"""Lexical retrieval over a document corpus — inverted index, BM25
ranked search, and reciprocal-rank fusion for hybrid (lexical +
vector) retrieval. The keyword half of the X2 search story: X2's
similarity module answers "which docs are NEAR this vector", this
module answers "which docs MATCH these terms", and :func:`rrf_fuse`
merges the two rankings the way production retrieval stacks do
(Cormack et al. 2009, "Reciprocal Rank Fusion outperforms Condorcet
and individual rank learning methods", SIGIR).

BM25 is Robertson/Sparck-Jones probabilistic ranking in the Lucene
parameterization (Robertson & Zaragoza 2009, "The Probabilistic
Relevance Framework: BM25 and Beyond"):

    score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1)
                              / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    idf(t)      = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))

(the non-negative "+1" idf variant Lucene ships; query-side term
frequency is ignored, also the Lucene default). Repeated query terms
therefore contribute once — queries are sets of terms.

Scale shapes (the 100 TB story):

- **The index is ONE corpus shuffle, paid at build time.**
  :func:`inverted_index` is tokenize → explode → one
  map-side-combinable hash aggregate on (doc, term); the postings
  table (term, doc_id, tf, doc_len) is the materialization a user
  writes to parquet once. ``doc_len`` is denormalized into the
  postings row (8 bytes) so query-time scoring never joins back to a
  corpus-grain table — the Lucene norms-in-the-postings trade.
- **Query time never shuffles the index.** Every lexical face
  (:func:`bm25_topk`, :func:`boolean_topk`, :func:`bm25f_topk`,
  :func:`phrase_topk`, :func:`near_topk`) collects the (small) query
  batch to the driver ONCE, tokenized in Spark, and the scored faces
  read the query terms' df and (n_docs, avgdl) back as driver scalars
  in one more small collect.
  The query side then rides the plan as literals: a pushed
  ``term IN (...)`` filter on the one postings scan and a literal map
  from term to its queries. No join touches the postings side, so
  nothing exchanges on term; the shuffles are the per-(query, doc)
  aggregate over MATCHED postings and the per-query top-k window. A
  single-query request is five Spark jobs for BM25 and boolean with
  ``dfreq``, six for BM25F (one more aggregate) and four for a phrase
  or near query (pinned by a test budget; under AQE each shuffle stage
  is its own job).
- **df/N/avgdl are index-build artifacts.** :func:`term_stats` and
  :func:`index_stats` are computed once with the index; pass them in
  (the 100 TB path) and query-time df is a ``term IN`` read of the df
  table, never a postings pass. If ``dfreq`` is omitted,
  :func:`bm25_topk` derives it from one filtered aggregate over the
  query terms' postings — exact, but it re-reads those postings;
  fine interactively, wasteful in a query loop.
- **Scores are decimal sums.** Each per-term contribution is cast to
  ``decimal(28,7)`` before the aggregate (the DSIR discipline), so the
  total is reduction-order-free and byte-reproducible in any engine —
  which is what makes the gate row a full DuckDB oracle.
- **Fusion is rank-space.** RRF needs only the two (query, doc, rank)
  top-k tables — k·|queries| rows each, broadcastable; the fused score
  is a fixed-order expression over at most len(rankings) doubles, no
  float aggregation.

Tokenization is the repo's space-split parity form (functions.tokenize
/ the r33 TF-IDF oracle): lowercase then split on single spaces,
dropping empty tokens — byte-reproducible in DuckDB as
``string_split(lower(text), ' ')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "search_terms",
    "inverted_index",
    "index_stats",
    "term_stats",
    "bm25_topk",
    "boolean_topk",
    "phrase_topk",
    "rrf_fuse",
    "advance_index",
    "combine_index_stats",
    "stats_from_postings",
    "fielded_index",
    "field_stats",
    "fielded_term_stats",
    "bm25f_topk",
    "retrieval_metrics",
    "more_like_this",
    "prf_expand",
    "spell_suggest",
    "near_topk",
    "hit_windows",
    "snippets",
]

_CONTRIB_DECIMAL = "decimal(28,7)"


def _idf() -> Column:
    """The Lucene "+1" idf over (n_docs, df) columns — BM25's idf (via
    :func:`_bm25_parts`), :func:`bm25f_topk`'s doc-grain idf, and the
    term-SELECTION ranking weight of :func:`more_like_this` /
    :func:`prf_expand`."""
    return F.log(
        F.lit(1.0)
        + (
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
    )


def _bm25_parts(k1: float, b: float) -> tuple[Column, Column]:
    """The (idf, tfn) column pair of the BM25 contribution — ONE home
    for the formula both :func:`bm25_topk` and :func:`boolean_topk`
    score with (and that the DuckDB oracles re-derive): Lucene "+1"
    idf over (n_docs, df), k1/b length-normalized tf over
    (tf, doc_len, avgdl). Callers multiply idf * tfn and cast
    ``_CONTRIB_DECIMAL`` — keep that grouping; the oracle SQL is
    parenthesized to match it."""
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("doc_len") / F.col("avgdl")))
    )
    return _idf(), tfn


def search_terms(col: Column | str, lowercase: bool = True) -> Column:
    """``array<string>`` of query/document terms: (lowercase,) split on
    single spaces, empty tokens dropped — the exact tokenization the
    r33 TF-IDF oracle pins, so every downstream count is
    DuckDB-reproducible. The split itself is the canonical
    ``functions.tokenize`` (the str.split-parity form lives in ONE
    place); this wrapper adds the case fold and the empty-token
    filter."""
    from datamunging_spark.functions import tokenize

    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    if lowercase:
        c = F.lower(c)
    return F.filter(tokenize(c), lambda w: w != "")


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    positions: bool = False,
    group_col: str | None = None,
) -> DataFrame:
    """(term, ``id_col``, tf, doc_len) postings — the corpus's inverted
    index at (term, doc) grain, unique per (term, doc) by construction.

    One tokenize + explode + ONE hash aggregate: partial (map-side)
    combine shrinks the shuffle to one row per (doc, term) per
    partition, and ``doc_len`` (total term count of the doc, counted
    BEFORE the explode) rides the group key — constant per doc, so it
    costs no extra aggregate. This is the one corpus-sized shuffle the
    family ever performs; materialize the result with
    ``materialize_columnar`` and query it forever.

    ``positions=True`` adds a ``positions`` column (sorted
    ``array<int>`` of the term's 0-based token offsets in the doc —
    Lucene's positional-postings trade: the index grows by one int per
    token, and :func:`phrase_topk` becomes answerable from the index
    alone). ``tf == size(positions)`` by construction. The aggregate
    stays a single hash agg (``collect_list`` + ``array_sort`` — the
    sort makes the row partitioning-independent, so positional indexes
    are byte-deterministic too).

    ``group_col`` builds a PER-CORPUS index in one pass (the
    multi-corpus/multi-language production norm, the repo's grouped-
    face convention): the group column rides every posting row and the
    grain becomes (group, term, doc) — doc ids only need to be unique
    within their group. NULL is a real group (an unidentified-language
    slice). Search it with :func:`bm25_topk`'s ``group_col``; the
    grouped :func:`index_stats`/:func:`term_stats` supply per-group
    stats. The build stays ONE corpus shuffle — the aggregate key just
    grows by the group column.
    """
    gb = [group_col] if group_col else []
    toks = df.select(
        *gb,
        F.col(id_col),
        search_terms(text_col, lowercase).alias("_toks"),
    ).withColumn("doc_len", F.size("_toks").cast("long"))
    if not positions:
        return (
            toks.select(
                *gb, id_col, "doc_len", F.explode("_toks").alias("term")
            )
            .groupBy(*gb, "term", id_col, "doc_len")
            .agg(F.count(F.lit(1)).alias("tf"))
            .select(*gb, "term", id_col, "tf", "doc_len")
        )
    return (
        toks.select(
            *gb,
            id_col,
            "doc_len",
            F.posexplode("_toks").alias("_pos", "term"),
        )
        .groupBy(*gb, "term", id_col, "doc_len")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.array_sort(F.collect_list(F.col("_pos").cast("int"))).alias(
                "positions"
            ),
        )
        .select(*gb, "term", id_col, "tf", "doc_len", "positions")
    )


def index_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """One-row (n_docs, total_len, avgdl) corpus statistics for BM25's
    length normalization — a single global aggregate over the SOURCE
    corpus (no shuffle: partial counts reduce to one row), computed
    once at index-build time and broadcast into every query. ``avgdl``
    is a double but exact-sum-derived (sum of long lengths / long
    count), so it is engine-reproducible; ``total_len`` keeps the
    exact long sum so :func:`combine_index_stats` merges without
    float error. Zero-length docs count toward both. ``group_col``:
    one row PER GROUP (NULL incl.) — per-corpus N/avgdl for the
    grouped :func:`bm25_topk` face; still groups-sized output."""
    gb = [group_col] if group_col else []
    sized = df.select(
        *gb,
        F.size(search_terms(text_col, lowercase)).cast("long").alias("_dl"),
    )
    grouped = sized.groupBy(*gb) if gb else sized
    return grouped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("_dl"), F.lit(0)).cast("long").alias("total_len"),
        (
            F.sum("_dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )


def term_stats(
    postings: DataFrame, group_col: str | None = None
) -> DataFrame:
    """(term, df) document frequencies from a postings table — one
    map-side-combinable aggregate (postings are unique per (term, doc),
    so ``count(*)`` IS df). Build it with the index and hand it to
    :func:`bm25_topk` as ``dfreq`` so query time never re-derives df.
    ``group_col``: per-(group, term) df from a grouped index."""
    gb = [group_col] if group_col else []
    return postings.groupBy(*gb, "term").agg(
        F.count(F.lit(1)).alias("df")
    )


def bm25_topk(
    postings: DataFrame,
    queries: DataFrame,
    stats: DataFrame,
    k: int = 10,
    query_col: str = "query",
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
    dfreq: DataFrame | None = None,
    max_df_frac: float | None = None,
    group_col: str | None = None,
    term_boosts: DataFrame | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 hits per query: (query_id, ``id_col``, rank, bm25).

    ``postings`` is an :func:`inverted_index` table (term, id, tf,
    doc_len); ``stats`` the matching one-row :func:`index_stats`;
    ``queries`` a SMALL batch (query_id, query text) — collected to the
    driver by contract, like ``brute_force_topk``'s probe batch.

    Plan: the query batch is tokenized by :func:`search_terms` (in
    Spark) and collected ONCE; each query becomes a term SET (the
    Lucene qtf=1 convention). The query terms' df and (n_docs, avgdl)
    come back as driver scalars in ONE small collect (see
    :func:`_term_scalars`). The query side then rides the plan as
    literals: a pushed ``term IN (...)`` filter on the postings scan
    and one literal map term → (n_docs, avgdl, df, [query ids]) that
    fans each matched posting out to its queries → per-term
    contributions cast ``decimal(28,7)`` → ONE (query, doc) hash
    aggregate (sized by matched postings) → top-k window per query
    (WindowGroupLimit pre-filters per partition). No join touches the
    postings side, so nothing repartitions by term. With ``dfreq``
    passed one request is five Spark jobs: the query collect, the
    scalar collect, the aggregate and window shuffle stages, and the
    result. Ties break on ascending doc id — a total order, so ranks
    are deterministic on any engine and any partitioning.

    ``dfreq``: pass :func:`term_stats`'s table so df is a filtered read
    of the index-build artifact. Without it, df derives from one
    filtered aggregate over the query terms' postings (exact — every
    posting of each query term is counted) inside the same scalar
    collect; that re-reads the query terms' postings once — fine
    interactively, wasteful in a query loop. Query terms absent from
    the corpus match nothing and contribute nothing; queries with no
    surviving term return no rows.

    ``max_df_frac``: the stopword valve — drop query terms whose
    document frequency exceeds this fraction of ``n_docs`` (Lucene's
    ``maxDocFreq`` MoreLikeThis guard). A hot term ("the") matches a
    corpus-sized posting slice, so one careless query term can turn
    the score aggregate into a corpus shuffle; such terms also carry
    near-zero idf, so dropping them barely moves the ranking. df is
    known on the driver before the scan, so a cut term never enters
    the ``term IN`` filter and its postings are never scored — the
    100 TB protection. Default None (off) — the parity/oracle
    configuration.

    ``group_col``: per-corpus search over a grouped index (built with
    :func:`inverted_index`'s ``group_col``; ``stats`` and ``dfreq``
    must be the grouped faces too). Queries carry the group column and
    search ONLY their own group's postings with that group's N/avgdl/
    df — NULL-safely (the NULL group searches the NULL corpus); the
    group rides the output. ``query_id`` must be unique ACROSS groups
    (it alone keys the final ranks). Same plan: the literal map is
    keyed by (group, term), so a posting of another group finds no
    entry and is dropped.

    ``term_boosts``: Lucene-style per-term query boosts — a SMALL
    (query_id, term, boost) table (collected by contract; query_id is
    globally unique, so it keys boosts on the grouped face too). Each
    listed pair's contribution is multiplied by its boost BEFORE the
    decimal cast; unlisted pairs default to 1.0, so ``None`` (the
    parity/oracle configuration) and an all-1.0 table are identical.
    Duplicate (query, term) rows resolve to the MAX boost (the
    retrieval_metrics duplicate-judgment convention). This is the
    weighted-query face :func:`prf_expand`'s ``return_terms`` output
    feeds (RM3-style down-weighted expansion terms). Boosts scale
    scoring only — term matching, the valve, and df are boost-blind.
    The boosts ride the literal map beside each query id; reading them
    costs one more small collect.

    ``filter_ids``: predicate-constrained search (``WHERE lang='en'``
    top-k) — a doc-id table (or (group, id) on the grouped face) cut
    into the matched postings BEFORE scoring, so k fills from the
    allowed sub-corpus; df/N/avgdl stay CORPUS-level (the Lucene
    filter-query contract — allowed docs score identically to the
    unfiltered run; pinned by test). See :func:`_apply_lex_filter`
    for the join shape.
    """
    from datamunging_spark.operators.relational import top_k_per_group

    gb = [group_col] if group_col else []
    qtype = queries.schema[query_id_col].dataType
    # (group key, term) → {query id: boost}; term SETS per query
    keys: dict = {}
    for r in _collect_queries(
        queries, query_col, query_id_col, lowercase, group_col
    ):
        for t in r["_t"]:
            keys.setdefault((r["_gk"], t), {})[r["_q"]] = 1.0
    if term_boosts is not None and keys:
        boosts = {
            (r["query_id"], r["term"]): r["_b"]
            for r in term_boosts.filter(
                F.col("term").isin(sorted({t for _, t in keys}))
            )
            .groupBy("query_id", "term")
            .agg(F.max(F.col("boost").cast("double")).alias("_b"))
            .collect()
            if r["_b"] is not None
        }
        for (_, t), qids in keys.items():
            for q in qids:
                qids[q] = boosts.get((q, t), 1.0)
    scalars, dfs = _term_scalars(postings, stats, dfreq, keys, group_col)
    entries = {}
    for key, qids in keys.items():
        if key not in dfs or key[0] not in scalars:
            continue  # term absent from the corpus / group without stats
        n_docs, avgdl = scalars[key[0]]
        if max_df_frac is not None and not (
            dfs[key] <= float(max_df_frac) * n_docs
        ):
            continue  # the stopword valve, cut before the scan
        entries[key] = F.struct(
            F.lit(n_docs).cast("long").alias("n_docs"),
            F.lit(avgdl).cast("double").alias("avgdl"),
            F.lit(dfs[key]).cast("long").alias("df"),
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast(qtype).alias("query_id"),
                        F.lit(float(bst)).alias("boost"),
                    )
                    for q, bst in qids.items()
                ]
            ).alias("q"),
        )
    qmap = _query_map(
        entries,
        group_col,
        "struct<n_docs:bigint,avgdl:double,df:bigint,q:array<struct<"
        f"query_id:{qtype.simpleString()},boost:double>>>",
    )
    if group_col:
        postings = postings.withColumn("_gk", _gkey(group_col))
    matched = _apply_lex_filter(
        postings.filter(F.col("term").isin(sorted({t for _, t in entries}))),
        filter_ids, group_col, id_col, "bm25_topk",
    )
    scored = matched.select(
        *gb, id_col, "tf", "doc_len",
        F.element_at(qmap, _query_key(group_col)).alias("_k"),
    ).select(
        *gb, id_col, "tf", "doc_len", "_k.n_docs", "_k.avgdl", "_k.df",
        F.explode("_k.q").alias("_q"),
    )
    idf, tfn = _bm25_parts(k1, b)
    contrib = idf * tfn
    if term_boosts is not None:
        contrib = contrib * F.col("_q.boost")
    per_doc = scored.select(
        F.col("_q.query_id").alias("query_id"),
        *gb,
        F.col(id_col),
        contrib.cast(_CONTRIB_DECIMAL).alias("_c"),
    ).groupBy("query_id", *gb, id_col).agg(F.sum("_c").alias("_s"))
    return top_k_per_group(
        per_doc,
        ["query_id"],
        [F.col("_s").desc(), F.col(id_col).asc()],
        k,
        rank_out="rank",
    ).select(
        "query_id",
        *gb,
        id_col,
        "rank",
        F.col("_s").cast("double").alias("bm25"),
    )


def advance_index(
    postings: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    replace_ids: bool = False,
    group_col: str | None = None,
    fields: dict[str, str] | list[str] | None = None,
) -> DataFrame:
    """Roll an inverted index forward by one ingest batch — the
    continuous-ingest leg (the X1+ ``advance_snapshot`` convention):
    sign ONLY the batch (tokenize + one batch-sized aggregate) and
    union its postings onto the history table; the historical corpus
    is never rescanned and never shuffles (union is exchange-free —
    each side keeps its partitions).

    Append-only by contract: batch ids must be new. With
    ``replace_ids=True`` the batch may also carry UPDATED documents —
    history postings of any id present in the batch are dropped first
    via a broadcast anti-join on ``id_col`` (one pass over history,
    no exchange: the batch id list is the broadcast side). The caller
    materializes the result as the new index table (same
    write-the-snapshot discipline as ``advance_snapshot``) and keeps
    (n_docs, avgdl) current via :func:`combine_index_stats` — BM25's
    idf/avgdl then drift only by the batch delta, which is the
    standard freshness trade of every incremental text index
    (Lucene's segment model); a periodic full rebuild resets it.

    **Empty-text updates are deletes.** With ``replace_ids=True`` a
    batch row whose text is empty/NULL (zero terms after tokenization)
    removes the doc from the index: the anti-join drops its old
    postings and the batch contributes none — the intended way to
    retire a document from a rolled-forward index. Callers keeping
    stats via :func:`combine_index_stats` must subtract the replaced
    docs' (n_docs, total_len) for EVERY replaced id, deleted ones
    included, or stats silently drift (the streaming loop's versioned
    stats table does this from the history postings, so it cannot
    drift — see ``streaming_index_ingest``).

    ``group_col`` rolls a grouped index forward: the batch is signed
    with the same group face and ``replace_ids`` anti-joins on
    (group, id) NULL-safely — doc ids are only unique within their
    group, so a batch doc replaces its own group's postings only.

    A FIELDED index (:func:`fielded_index`) rolls forward by passing
    the SAME ``fields`` mapping used at build time — the batch is
    signed at field grain and the replace anti-join still keys on the
    doc id, so an updated doc swaps ALL its fields' postings at once
    (and a doc whose every field is empty is a delete, the same
    contract). Detection is schema-based like positions: a history
    table with a ``field`` column REQUIRES ``fields=``, so a fielded
    index can never be silently degraded by an unfielded fold.
    """
    # positional/fielded indexes roll forward as what they are —
    # detect from the history schema so neither can be silently
    # degraded (or loudly union-mismatched) by a fold
    pos = "positions" in postings.columns
    fielded = "field" in postings.columns
    if fielded and fields is None:
        raise ValueError(
            "advance_index: the history table is a FIELDED index "
            "(it has a 'field' column) — pass fields= (the same "
            "mapping fielded_index built it with) so the batch is "
            "signed at field grain"
        )
    if fields is not None and not fielded:
        raise ValueError(
            "advance_index: fields= given but the history table has "
            "no 'field' column — it is not a fielded_index table"
        )
    gb = [group_col] if group_col else []
    if fielded:
        new_post = fielded_index(
            batch, fields, id_col, lowercase, group_col=group_col
        )
    else:
        new_post = inverted_index(
            batch, text_col, id_col, lowercase, positions=pos,
            group_col=group_col,
        )
    if replace_ids:
        cols = gb + (
            ["field", "term", id_col, "tf", "field_len"]
            if fielded
            else ["term", id_col, "tf", "doc_len"]
            + (["positions"] if pos else [])
        )
        if group_col:
            # grouped indexes replace on (group, id) — doc ids are only
            # unique within their group; NULL-safe via the encoded key
            keyed = postings.withColumn("_gk", _gkey(group_col))
            ids = F.broadcast(
                batch.select(
                    _gkey(group_col).alias("_gk"), F.col(id_col)
                ).distinct()
            )
            postings = keyed.join(ids, ["_gk", id_col], "left_anti")
        else:
            postings = postings.join(
                F.broadcast(batch.select(F.col(id_col)).distinct()),
                id_col,
                "left_anti",
            )
        postings = postings.select(*cols)  # anti-join reorders keys
    return postings.unionByName(new_post)


def combine_index_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two one-row :func:`index_stats` tables into the combined
    corpus's (n_docs, total_len, avgdl) — counts and exact long token
    totals add, avgdl re-derives from the merged longs (the
    mergeable-summary property, float-error-free: the merged table is
    bit-identical to :func:`index_stats` run on the full corpus).
    Empty sides (n_docs=0) are identity elements. For ``replace_ids``
    updates, subtract the replaced docs' stats first (a one-row table
    with negated n_docs/total_len merges the same way)."""
    ar = a.select(
        F.col("n_docs").alias("_na"), F.col("total_len").alias("_ta")
    )
    br = b.select(
        F.col("n_docs").alias("_nb"), F.col("total_len").alias("_tb")
    )
    return ar.crossJoin(br).select(
        (F.col("_na") + F.col("_nb")).alias("n_docs"),
        (F.col("_ta") + F.col("_tb")).alias("total_len"),
        F.when(
            (F.col("_na") + F.col("_nb")) > 0,
            (F.col("_ta") + F.col("_tb")).cast("double")
            / (F.col("_na") + F.col("_nb")).cast("double"),
        ).alias("avgdl"),
    )


def boolean_topk(
    postings: DataFrame,
    queries: DataFrame,
    stats: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    must_col: str = "must",
    should_col: str = "should",
    must_not_col: str = "must_not",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
    dfreq: DataFrame | None = None,
    max_df_frac: float | None = None,
    min_should_match: int = 0,
    group_col: str | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Boolean retrieval (the Lucene BooleanQuery trio) ranked by BM25:
    (query_id, ``id_col``, rank, n_must, n_should, bm25). ``queries``
    carries three space-split term-text columns per query — a doc
    qualifies iff it contains EVERY ``must`` term (vacuously true when
    must is empty/NULL, in which case ≥1 ``should`` match is required
    instead — a query can't match the whole corpus by accident), at
    least ``min_should_match`` distinct ``should`` terms (Lucene's
    ``minimumShouldMatch``; default 0 keeps the pure-optional
    semantics, and the no-must fallback still demands ≥1 either way),
    and NO ``must_not`` term; qualified docs are scored by BM25 over
    their matched must+should terms (must clauses score too, the
    Lucene convention; a term listed in both roles scores ONCE).
    ``queries`` is a SMALL batch, collected to the driver by contract
    like :func:`bm25_topk`'s.

    Plan: the batch is collected ONCE with all three role columns
    tokenized by :func:`search_terms`, and the per-(group, term) role
    flags are built on the driver. df and (n_docs, avgdl) come back in
    one :func:`_term_scalars` collect, so every per-query rule is
    settled on the driver before the scan: the valve cut, the
    absent-must rule, the required must count and the (degraded)
    ``min_should_match``. The query side then rides the plan as
    literals — the :func:`bm25_topk` shape: a pushed ``term IN (...)``
    filter on the one postings scan, a literal map (group, term) →
    (n_docs, avgdl, df, [(query, role flags, required counts)]), and
    ONE (query, doc) aggregate that sums the decimal(28,7)
    contributions, counts ``n_must``/``n_should``, flags any
    ``must_not`` hit, and filters on the per-query literals before the
    top-k window. With ``dfreq`` a request is five Spark jobs, like
    BM25's.

    ``dfreq`` / ``max_df_frac``: as in :func:`bm25_topk` — df is a
    ``term IN`` read of a :func:`term_stats` table or, without it, one
    filtered aggregate over the query terms' postings; the valve cuts
    hot terms on the driver, so their postings are never scanned. It
    applies to ALL THREE roles, i.e. hot terms are treated as stopwords
    exactly as a Lucene stop-filtered analyzer would at parse time: a
    hot ``must`` term is no longer required (a query whose every must
    term is valved degrades to should-matching), a hot ``should`` term
    no longer scores, and a hot ``must_not`` term no longer excludes —
    by design, since excluding every doc containing "the" is almost
    always a query bug; leave ``max_df_frac=None`` (the parity/oracle
    default) if literal exclusion semantics matter. A ``must`` term
    absent from the corpus matches nothing, so its query returns no
    rows (strict AND, by design — absence is not hotness; the valve
    never drops unseen terms). A valved should term also cannot count
    toward ``min_should_match``, so msm DEGRADES per query by the
    number of should terms the valve removed (floored at 0; the
    no-must fallback still demands ≥ 1 actual match) — the clause is
    gone, not unmatched, exactly as a stop-filtered analyzer leaves a
    smaller clause list; a query whose every should term is hot
    degrades to must-only matching instead of silently matching
    nothing.

    Deterministic: decimal(28,7) score sums, (score desc, doc asc)
    ranks. ``group_col``: the grouped face over a grouped index — same
    contract as :func:`bm25_topk`'s (queries carry the group, per-group
    stats/df, NULL-safe, the group rides the output; hotness is judged
    against the query's OWN group's df/n_docs). ``filter_ids``:
    predicate-constrained search — the :func:`bm25_topk` contract
    (doc-id or (group, id) table, corpus-level df, k fills from the
    allowed sub-corpus); the cut lands on the matched postings before
    the aggregate, which is sound because boolean evaluation is
    per-doc: a doc outside the filter can neither qualify nor be
    banned."""
    from datamunging_spark.operators.relational import top_k_per_group

    gb = [group_col] if group_col else []
    qtype = queries.schema[query_id_col].dataType
    # (group key, query id) → {term: its roles among "m", "s", "x"}
    roles: dict = {}
    for r in _collect_queries(
        queries,
        {"m": must_col, "s": should_col, "x": must_not_col},
        query_id_col, lowercase, group_col,
    ):
        q = roles.setdefault((r["_gk"], r["_q"]), {})
        for role in "msx":
            for t in r[role]:
                q.setdefault(t, set()).add(role)
    scalars, dfs = _term_scalars(
        postings, stats, dfreq,
        {(g, t) for (g, _), q in roles.items() for t in q}, group_col,
    )

    def hot(key):
        return (
            max_df_frac is not None
            and key in dfs
            and key[0] in scalars
            and dfs[key] > float(max_df_frac) * scalars[key[0]][0]
        )

    msm = int(min_should_match)
    flags: dict = {}  # (group key, term) → [per-query flag structs]
    for (g, qid), q in roles.items():
        live = {t: rl for t, rl in q.items() if not hot((g, t))}
        must = [t for t, rl in live.items() if "m" in rl]
        if g not in scalars or any((g, t) not in dfs for t in must):
            continue  # no stats, or a must term absent from the corpus
        # a valved should clause is gone, not unmatched: msm degrades
        cut_s = sum("s" in rl for t, rl in q.items() if t not in live)
        eff = max(0, msm - cut_s)
        for t, rl in live.items():
            # a should term without df neither scores nor counts
            m, s, x = "m" in rl, "s" in rl and (g, t) in dfs, "x" in rl
            if m or s or x:
                flags.setdefault((g, t), []).append(
                    F.struct(
                        F.lit(qid).cast(qtype).alias("query_id"),
                        F.lit(m).alias("m"),
                        F.lit(s).alias("s"),
                        F.lit(x).alias("x"),
                        F.lit(len(must)).alias("req"),
                        F.lit(eff if must else max(1, eff)).alias("need"),
                    )
                )
    qmap = _query_map(
        {
            (g, t): F.struct(
                F.lit(scalars[g][0]).cast("long").alias("n_docs"),
                F.lit(scalars[g][1]).cast("double").alias("avgdl"),
                F.lit(dfs.get((g, t))).cast("long").alias("df"),
                F.array(*v).alias("q"),
            )
            for (g, t), v in flags.items()
        },
        group_col,
        "struct<n_docs:bigint,avgdl:double,df:bigint,q:array<struct<"
        f"query_id:{qtype.simpleString()},m:boolean,s:boolean,"
        "x:boolean,req:int,need:int>>>",
    )
    if group_col:
        postings = postings.withColumn("_gk", _gkey(group_col))
    matched = _apply_lex_filter(
        postings.filter(F.col("term").isin(sorted({t for _, t in flags}))),
        filter_ids, group_col, id_col, "boolean_topk",
    )
    hits = matched.select(
        *gb, id_col, "tf", "doc_len",
        F.element_at(qmap, _query_key(group_col)).alias("_k"),
    ).select(
        *gb, id_col, "tf", "doc_len", "_k.n_docs", "_k.avgdl", "_k.df",
        F.explode("_k.q").alias("_q"),
    )
    idf, tfn = _bm25_parts(k1, b)
    per_doc = (
        hits.select(
            F.col("_q.query_id").alias("query_id"),
            F.col("_q.req").alias("_req"),
            F.col("_q.need").alias("_need"),
            *gb,
            id_col,
            F.when(
                F.col("_q.m") | F.col("_q.s"),
                (idf * tfn).cast(_CONTRIB_DECIMAL),
            ).alias("_c"),
            F.col("_q.m").alias("_is_m"),
            F.col("_q.s").alias("_is_s"),
            F.col("_q.x").alias("_is_x"),
        )
        .groupBy("query_id", "_req", "_need", *gb, id_col)
        .agg(
            F.sum("_c").alias("_s"),
            F.sum(F.when(F.col("_is_m"), 1).otherwise(0)).alias("n_must"),
            F.sum(F.when(F.col("_is_s"), 1).otherwise(0)).alias(
                "n_should"
            ),
            F.max("_is_x").alias("_banned"),
        )
        .filter(
            (F.col("n_must") == F.col("_req"))
            & (F.col("n_should") >= F.col("_need"))
            & ~F.col("_banned")
        )
    )
    return top_k_per_group(
        per_doc,
        ["query_id"],
        [F.col("_s").desc(), F.col(id_col).asc()],
        k,
        rank_out="rank",
    ).select(
        "query_id",
        *gb,
        id_col,
        "rank",
        "n_must",
        "n_should",
        F.col("_s").cast("double").alias("bm25"),
    )


def phrase_topk(
    postings: DataFrame,
    phrases: DataFrame,
    k: int = 10,
    query_col: str = "query",
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    lowercase: bool = True,
    group_col: str | None = None,
    stats: DataFrame | None = None,
    dfreq: DataFrame | None = None,
    max_df_frac: float | None = None,
    on_hot: str = "raise",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Exact phrase search over a POSITIONAL index — top-k docs per
    phrase by phrase frequency: (query_id, ``id_col``, rank,
    phrase_freq). ``postings`` must come from
    :func:`inverted_index(..., positions=True) <inverted_index>`;
    ``phrases`` is a SMALL (query_id, phrase text) batch, collected to
    the driver by contract like :func:`bm25_topk`'s queries.

    ``max_df_frac`` (with ``stats``, and ideally ``dfreq`` =
    :func:`term_stats`) arms the hot-term GUARD: phrase semantics
    forbid silently dropping a term, so instead of valving, the guard
    fails fast (``on_hot='raise'``) or warns (``'warn'``) at
    query-construction time when any phrase term's df exceeds the
    fraction — see :func:`_positional_hot_guard` for the scale hazard
    and the CommonGrams/stop-analysis alternative. DEFAULT-ARMED when
    ``stats`` AND ``dfreq`` are both provided: leaving
    ``max_df_frac=None`` with the index-build artifacts in hand arms
    the warn tier at the generous 0.5 threshold (an operator who wired
    up the stats tables gets hot-term visibility without reading this
    docstring), and the check is then one query-sized df/stats
    collect — no postings scan. With ``dfreq`` absent the default
    stays OFF (r15-close advice: auto-arming without dfreq ran an
    eager corpus-grain postings aggregate plus a driver collect at
    every query construction — a latency regression for existing
    stats-passing callers); pass ``max_df_frac`` explicitly to opt
    into the on-the-fly derivation. With ``stats=None`` the guard
    stays fully off — the parity configuration.

    The classic positional-intersection algorithm, relational: the
    phrase batch is tokenized in Spark and collected ONCE; each phrase
    becomes (offset, term) pairs that ride the plan as literals — a
    pushed ``term IN (...)`` filter on the postings scan (ONE index
    scan, no join and no exchange on the postings side) and a literal
    map term → [(query, offset, phrase length)] that fans each matched
    posting out to its phrase positions → shift each matched posting's
    position list left by its phrase offset →
    per (query, doc), a doc contains the phrase at start p iff p
    survives the INTERSECTION of all shifted lists — intersection is
    commutative, so the ``collect_list`` fold needs no ordering and the
    result is partitioning-independent. Docs missing any phrase term
    are dropped by requiring one matched posting per phrase offset
    (duplicate terms in the phrase are distinct offsets, handled
    exactly: "a a" demands a at p AND p+1). ``phrase_freq`` =
    |intersection| = occurrence count; ranks break ties on ascending
    doc id. The shuffles are the matched-postings (query, doc)
    aggregate and the per-query top-k window, so a request with the
    guard off is four Spark jobs: the phrase collect, the two shuffle
    stages and the result (an armed guard adds its one collect);
    phrase search at 100 TB costs one pushed index scan,
    like BM25. ``group_col``: the grouped face over a grouped
    positional index (same contract as :func:`bm25_topk`'s — phrases
    carry the group, NULL-safe, group rides the output).
    ``filter_ids``: predicate-constrained search — the
    :func:`bm25_topk` contract (doc-id or (group, id) table; matching
    is exact so there are no stats to hold fixed; k fills from the
    allowed sub-corpus). The cut lands on the matched postings before
    the intersection aggregate, so the guard stays corpus-level."""
    if "positions" not in postings.columns:
        raise ValueError(
            "phrase_topk needs a positional index — build the postings "
            "with inverted_index(..., positions=True)"
        )
    gb = [group_col] if group_col else []
    qtype = phrases.schema[query_id_col].dataType
    # (group key, term) → one (query, offset, phrase length) entry per
    # phrase position: a repeated term is one entry per offset
    keys: dict = {}
    for r in _collect_queries(
        phrases, query_col, query_id_col, lowercase, group_col
    ):
        for off, t in enumerate(r["_t"]):
            keys.setdefault((r["_gk"], t), []).append(
                F.struct(
                    F.lit(r["_q"]).cast(qtype).alias("query_id"),
                    F.lit(off).alias("off"),
                    F.lit(len(r["_t"])).alias("n"),
                )
            )
    if max_df_frac is None and stats is not None and dfreq is not None:
        # default-armed warn tier, query-sized check only (see
        # docstring; r15-close advice)
        max_df_frac, on_hot = 0.5, "warn"
    _positional_hot_guard(
        keys, postings, stats, dfreq, max_df_frac, group_col,
        "phrase_topk", on_hot,
    )
    qmap = _query_map(
        {key: F.array(*v) for key, v in keys.items()},
        group_col,
        f"array<struct<query_id:{qtype.simpleString()},off:int,n:int>>",
    )
    if group_col:
        postings = postings.withColumn("_gk", _gkey(group_col))
    hits = _apply_lex_filter(
        postings.filter(F.col("term").isin(sorted({t for _, t in keys}))),
        filter_ids, group_col, id_col, "phrase_topk",
    ).select(
        *gb,
        id_col,
        "positions",
        F.explode(F.element_at(qmap, _query_key(group_col))).alias("_q"),
    ).select(
        F.col("_q.query_id").alias("query_id"),
        F.col("_q.n").alias("_n_terms"),
        *gb,
        id_col,
        F.transform(
            "positions", lambda x: x - F.col("_q.off")
        ).alias("_shifted"),
    )
    grouped = (
        hits.groupBy("query_id", "_n_terms", *gb, id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_matched"),
            F.collect_list("_shifted").alias("_arrs"),
        )
        .filter(F.col("_n_matched") == F.col("_n_terms"))
        .select(
            "query_id",
            *gb,
            id_col,
            F.size(
                F.aggregate(
                    F.slice(
                        F.col("_arrs"), 2, F.size(F.col("_arrs")) - 1
                    ),
                    F.element_at(F.col("_arrs"), 1),
                    lambda acc, x: F.array_intersect(acc, x),
                )
            ).alias("phrase_freq"),
        )
        .filter(F.col("phrase_freq") > 0)
    )
    from datamunging_spark.operators.relational import top_k_per_group

    return top_k_per_group(
        grouped,
        ["query_id"],
        [F.col("phrase_freq").desc(), F.col(id_col).asc()],
        k,
        rank_out="rank",
    ).select("query_id", *gb, id_col, "rank", "phrase_freq")


def fielded_index(
    df: DataFrame,
    fields: dict[str, str] | list[str],
    id_col: str = "doc_id",
    lowercase: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """(field, term, ``id_col``, tf, field_len) per-field postings —
    the multi-field index behind :func:`bm25f_topk` (title/body
    weighted search). ``fields`` maps field name → text column (a list
    means name == column). The document grain is (field, term, doc);
    ``field_len`` is that field's term count for the doc.

    ONE corpus scan: the fields are packed into an array of (field,
    tokens) structs and exploded twice, then a single
    map-side-combinable hash aggregate — the same one-shuffle build
    contract as :func:`inverted_index`, just at field grain (the index
    grows by the extra fields' tokens, not by a scan per field). An
    empty/NULL field contributes no postings (its length still counts
    in :func:`field_stats`, the BM25F convention). ``group_col`` builds
    a PER-CORPUS fielded index in one pass (per-language title/body —
    the production norm the grouped faces exist for): the group rides
    every posting row, the grain becomes (group, field, term, doc),
    NULL is a real group — the :func:`inverted_index` convention."""
    fmap = {f: f for f in fields} if isinstance(fields, list) else fields
    if not fmap:
        raise ValueError("fields must name at least one text column")
    gb = [group_col] if group_col else []
    packed = F.array(
        *[
            F.struct(
                F.lit(name).alias("field"),
                search_terms(col, lowercase).alias("toks"),
            )
            for name, col in fmap.items()
        ]
    )
    toks = (
        df.select(*gb, F.col(id_col), F.explode(packed).alias("_f"))
        .select(
            *gb,
            id_col,
            F.col("_f.field").alias("field"),
            F.col("_f.toks").alias("_toks"),
        )
        .withColumn("field_len", F.size("_toks").cast("long"))
    )
    return (
        toks.select(
            *gb, id_col, "field", "field_len",
            F.explode("_toks").alias("term"),
        )
        .groupBy(*gb, "field", "term", id_col, "field_len")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(*gb, "field", "term", id_col, "tf", "field_len")
    )


def field_stats(
    df: DataFrame,
    fields: dict[str, str] | list[str],
    id_col: str = "doc_id",
    lowercase: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """Per-field (field, n_docs, total_len, avgdl) — BM25F's per-field
    length normalization baseline, one row per field from ONE corpus
    scan + one tiny aggregate (|fields| rows out). Every doc counts in
    every field's n_docs (an empty title is a zero-length title, the
    :func:`index_stats` convention), so n_docs is identical across
    rows and doubles as the corpus N for idf. ``group_col``: one row
    per (group, field) — per-corpus baselines for the grouped
    :func:`bm25f_topk` face; still groups×fields-sized output."""
    fmap = {f: f for f in fields} if isinstance(fields, list) else fields
    if not fmap:
        raise ValueError("fields must name at least one text column")
    gb = [group_col] if group_col else []
    packed = F.array(
        *[
            F.struct(
                F.lit(name).alias("field"),
                F.size(search_terms(col, lowercase))
                .cast("long")
                .alias("flen"),
            )
            for name, col in fmap.items()
        ]
    )
    return (
        df.select(*gb, F.explode(packed).alias("_f"))
        .select(
            *gb,
            F.col("_f.field").alias("field"),
            F.col("_f.flen").alias("_fl"),
        )
        .groupBy(*gb, "field")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("_fl"), F.lit(0))
            .cast("long")
            .alias("total_len"),
            (
                F.sum("_fl").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avgdl"),
        )
    )


def fielded_term_stats(
    postings: DataFrame,
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """(term, df) DOCUMENT frequencies from a fielded postings table —
    a term counts once per doc no matter how many fields it appears in
    (BM25F uses doc-grain idf; per-field df would double-count). One
    distinct over the slim (term, doc) projection + one aggregate —
    an index-build artifact like :func:`term_stats`: compute it with
    the index, persist it, hand it to :func:`bm25f_topk` as ``dfreq``
    so query time never pays the distinct. ``group_col``: per-(group,
    term) doc-grain df from a grouped fielded index."""
    gb = [group_col] if group_col else []
    return (
        postings.select(*gb, "term", id_col)
        .distinct()
        .groupBy(*gb, "term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _gkey(col: str) -> Column:
    """NULL-safe string encoding of a group value, so grouped joins
    stay plain multi-column equi-joins (NULL group == NULL group, the
    repo's NULL-is-a-real-group convention) instead of condition joins
    with eqNullSafe renames. "\\x00" tags NULL; values get an "="
    prefix — disjoint by construction, injective within one column's
    type."""
    return F.when(F.col(col).isNull(), F.lit("\x00")).otherwise(
        F.concat(F.lit("="), F.col(col).cast("string"))
    )


def _collect_queries(
    queries: DataFrame,
    query_col: str | dict[str, str],
    query_id_col: str,
    lowercase: bool,
    group_col: str | None,
) -> list:
    """The query batch on the driver, collected ONCE: rows of (``_q``
    query id, ``_gk`` group key — None when ungrouped, ``_t`` terms).
    A dict ``query_col`` (output name → text column) tokenizes several
    columns in the same collect, each under its own name. Tokenization
    stays Spark's (:func:`search_terms` runs in the select), so the
    literal plans built from these rows match the index byte for byte.
    Small by contract, like every query batch of the search
    operators."""
    gk = _gkey(group_col) if group_col else F.lit(None).cast("string")
    cols = query_col if isinstance(query_col, dict) else {"_t": query_col}
    return queries.select(
        F.col(query_id_col).alias("_q"),
        gk.alias("_gk"),
        *[search_terms(c, lowercase).alias(n) for n, c in cols.items()],
    ).collect()


def _term_scalars(
    postings: DataFrame,
    stats: DataFrame,
    dfreq: DataFrame | None,
    keys,
    group_col: str | None,
    by: str | None = None,
) -> tuple[dict, dict]:
    """Driver scalars for literal query keys ((group key, term) pairs,
    group key None when ungrouped), read in ONE small collect:
    ``{group key: (n_docs, avgdl)}`` from ``stats`` and
    ``{(group key, term): df}`` for the query terms. df is a
    ``term IN (...)`` read of ``dfreq`` (:func:`term_stats`, the
    index-build artifact), or — without it — one filtered aggregate
    over the query terms' postings. Both sides are query- or
    groups-sized, so they ride one union into one job. ``by`` names a
    further ``stats`` key column (``field`` for :func:`field_stats`);
    the stats scalars are then keyed ``(group key, by value)``."""
    if not keys:
        return {}, {}
    terms = sorted({t for _, t in keys})
    gk = (
        _gkey(group_col) if group_col else F.lit(None).cast("string")
    ).alias("_gk")
    if dfreq is None:
        dfreq = postings.groupBy(
            *([group_col] if group_col else []), "term"
        ).agg(F.count(F.lit(1)).alias("df"))
    side = stats.select(
        gk,
        F.lit(None).cast("string").alias("term"),
        *([F.col(by).cast("string").alias("_by")] if by else []),
        F.col("n_docs").cast("long").alias("_n"),
        F.col("avgdl").cast("double").alias("_x"),
    ).unionByName(
        dfreq.filter(F.col("term").isin(terms)).select(
            gk,
            "term",
            *([F.lit(None).cast("string").alias("_by")] if by else []),
            F.col("df").cast("long").alias("_n"),
            F.lit(None).cast("double").alias("_x"),
        )
    )
    scalars, dfs = {}, {}
    for r in side.collect():
        if r["term"] is not None:
            dfs[(r["_gk"], r["term"])] = r["_n"]
        else:
            scalars[(r["_gk"], r["_by"]) if by else r["_gk"]] = (
                r["_n"], r["_x"],
            )
    return scalars, dfs


def _query_key(group_col: str | None, key: str = "term") -> Column:
    """The in-plan lookup key of an index row into a :func:`_query_map`
    — the ``key`` column (term, or IVF cell), or (``_gk``, key) on the
    grouped face."""
    if group_col:
        return F.struct(F.col("_gk"), F.col(key))
    return F.col(key)


def _query_map(
    entries: dict,
    group_col: str | None,
    value_ddl: str,
    key: str = "term",
    key_ddl: str = "string",
) -> Column:
    """A plan-literal map from driver-side query keys ((group key,
    ``key`` value) pairs) to per-key value Columns of type
    ``value_ddl`` — how the query side of the search operators rides
    the plan instead of a broadcast subplan. An empty dict is a typed
    NULL map, so a batch with no surviving key plans to an empty
    result."""
    if group_col:
        key_ddl = f"struct<_gk:string,{key}:{key_ddl}>"
    ddl = f"map<{key_ddl},{value_ddl}>"
    if not entries:
        return F.lit(None).cast(ddl)
    kv = []
    for (g, k), v in entries.items():
        kv += [
            F.struct(F.lit(g).alias("_gk"), F.lit(k).alias(key))
            if group_col
            else F.lit(k),
            v,
        ]
    return F.create_map(*kv).cast(ddl)


def _apply_lex_filter(
    matched: DataFrame,
    filter_ids: DataFrame | None,
    group_col: str | None,
    id_col: str,
    op: str,
) -> DataFrame:
    """Filtered lexical search — cut the MATCHED postings branch to a
    predicate id-set (the Lucene filter-query contract; the vector
    family's ``ivf_search(filter_ids=)`` twin). ``filter_ids`` is a
    one-column doc-id table, or (group, id) — matched by NAME — on a
    grouped search where ids are only unique within their group; the
    join is then on (``_gk``, id), NULL-safe. Semantics: the filter
    constrains CANDIDATE DOCS ONLY — df/N/avgdl stay corpus-level
    (Lucene never recomputes statistics under a filter), so allowed
    docs score identically to the unfiltered run and k fills from the
    allowed sub-corpus instead of under-filling like a post-filtered
    top-k. Plan: a LEFT SEMI join on the query-term-sized matched
    branch — no broadcast hint, because a predicate set can be
    corpus-scale (``lang='en'``); AQE picks a broadcast when the set
    is small. The filter sits AFTER the query-term cut of the
    postings, so a hot term's corpus slice still flows into this
    semi-join — the valve/guard stays corpus-level and stays
    necessary."""
    if filter_ids is None:
        return matched
    cols = filter_ids.columns
    if group_col is not None and group_col in cols:
        rest = [c for c in cols if c != group_col]
        if len(rest) != 1:
            raise ValueError(
                f"{op}: filter_ids with the group column must have "
                f"exactly one id column beside it, got {cols}"
            )
        flt = filter_ids.select(
            _gkey(group_col).alias("_gk"),
            F.col(rest[0]).alias(id_col),
        ).distinct()
        return matched.join(flt, ["_gk", id_col], "left_semi")
    if len(cols) != 1:
        raise ValueError(
            f"{op}: filter_ids must be a one-column doc-id table (or "
            f"(group, id) for a grouped search), got {cols}"
        )
    flt = filter_ids.select(F.col(cols[0]).alias(id_col)).distinct()
    return matched.join(flt, [id_col], "left_semi")


def _positional_hot_guard(
    keys,
    postings: DataFrame,
    stats: DataFrame | None,
    dfreq: DataFrame | None,
    max_df_frac: float | None,
    group_col: str | None,
    op: str,
    on_hot: str,
) -> None:
    """The positional operators' hot-term GUARD (not a valve): phrase
    and proximity semantics forbid silently dropping a term (removing
    "the" from the phrase "the who" changes what it matches), so where
    :func:`bm25_topk`'s ``max_df_frac`` cuts hot terms, this checks the
    query terms' document frequencies up front and FAILS FAST
    (``on_hot='raise'``) or warns loudly (``'warn'``) when any exceeds
    ``max_df_frac * n_docs``. Without it, one careless query term
    ("the") drags a corpus-scale slice of POSITIONAL postings — tf plus
    the full position arrays, the widest rows in the index — through
    the (query, doc) aggregate, the one adversarial-input scale hazard
    of the positional family.

    ``keys`` are the driver-side (group key, term) query keys. The
    check is one bounded driver-side collect at query-construction
    time (:func:`_term_scalars`: ≤ the distinct query terms plus the
    stats rows). Pass ``dfreq`` (:func:`term_stats`, the index-build
    artifact — the 100 TB path) so the check never touches the
    postings; without it, df derives from one slim ``term IN``-filtered
    postings aggregate (column pruning keeps the position arrays
    unread on a parquet index; fine interactively).

    The Lucene-world fix for a workload that legitimately needs hot
    terms in phrases is analysis-side, not query-side: index
    CommonGrams (hot-term bigrams as single tokens) or stop-filter at
    analysis time so the hot term never enters the positional index;
    the heavier engine-side option is a doc-co-partitioned merge-join
    index layout. This guard makes the hazard loud until one of those
    is in place."""
    if max_df_frac is None:
        return
    if on_hot not in ("raise", "warn"):
        raise ValueError(f"{op}: on_hot must be 'raise' or 'warn'")
    if stats is None:
        raise ValueError(
            f"{op}: max_df_frac needs stats (index_stats — per-group "
            "when grouped) to judge hotness against n_docs"
        )
    scalars, dfs = _term_scalars(postings, stats, dfreq, keys, group_col)
    hot = sorted(
        {
            t
            for (g, t), d in dfs.items()
            if (g, t) in keys
            and g in scalars
            and d > float(max_df_frac) * scalars[g][0]
        }
    )[:20]
    if hot:
        terms = ", ".join(repr(t) for t in hot)
        msg = (
            f"{op}: query term(s) exceed max_df_frac="
            f"{max_df_frac:g} of the corpus: {terms}. A hot term joins "
            "its ENTIRE positional posting slice (positions arrays "
            "included) into the per-doc aggregate — corpus-sized at "
            "scale. Rephrase the query, raise max_df_frac, or index "
            "CommonGrams / stop-filter at analysis time so hot terms "
            "never reach the positional index."
        )
        if on_hot == "raise":
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, stacklevel=3)


def _field_ladder(mapping: dict) -> Column:
    """CASE ladder field → literal — the per-field weight/b lookup as a
    pure expression (no join for a handful of fields)."""
    expr = F.lit(None).cast("double")
    for name, val in mapping.items():
        expr = F.when(
            F.col("field") == F.lit(name), F.lit(float(val))
        ).otherwise(expr)
    return expr


def bm25f_topk(
    postings: DataFrame,
    queries: DataFrame,
    fstats: DataFrame,
    weights: dict[str, float],
    k: int = 10,
    query_col: str = "query",
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float | dict[str, float] = 0.75,
    lowercase: bool = True,
    dfreq: DataFrame | None = None,
    max_df_frac: float | None = None,
    group_col: str | None = None,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-k weighted multi-field search — simple BM25F (Robertson,
    Zaragoza & Taylor 2004, "Simple BM25 extension to multiple
    weighted fields"; Robertson & Zaragoza 2009 §3.3): per field,
    length-normalize the term frequency, then combine fields by
    weight BEFORE the saturation —

        tf~(t,d)  = Σ_f w_f · tf(t,d,f) / (1 + b_f·(len_f/avgdl_f − 1))
        score(q,d)= Σ_t idf(t) · tf~(t,d) / (k1 + tf~(t,d))

    with doc-grain idf (the Lucene "+1" variant over
    :func:`fielded_term_stats`). This is NOT a per-field BM25 sum —
    weighting inside the saturation is the paper's whole point: a term
    hitting both title and body saturates once, so a title hit boosts
    instead of double-counting.

    ``postings``/``fstats`` come from :func:`fielded_index` /
    :func:`field_stats`; ``weights`` maps field → w_f and also SELECTS
    the searched fields (postings rows of unlisted fields are filtered
    at the scan); ``b`` is one value or a per-field dict (per-field
    length normalization is the second BM25F knob). ``queries`` is a
    SMALL batch, collected to the driver by contract like
    :func:`bm25_topk`'s. ``dfreq`` / ``max_df_frac`` behave exactly as
    in :func:`bm25_topk` (same valve, cut on the driver before the
    scan) — and idf's df is DOC-grain over ALL indexed fields on both
    paths (the on-the-fly :func:`fielded_term_stats` derivation reads
    the query terms' postings before the weights filter), so a weights
    subset reweights scoring without changing df.

    Output (query_id, ``id_col``, rank, bm25f), ranks tie-broken on
    ascending doc id. Plan: the :func:`bm25_topk` literal shape with
    one extra matched-sized hash aggregate. The query batch is
    collected once; per-(group, field) avgdl, per-group n_docs and the
    query terms' doc-grain df come back in ONE small collect
    (:func:`_term_scalars`). Then one pushed ``term IN (...)`` postings
    scan, a literal map (group, term) → (n_docs, df, [query ids]) and
    a literal map (group, field) → avgdl, the per-(query, doc, term)
    decimal(28,7) field fold (reduction-order-free), idf·saturation on
    the exact fold, the (query, doc) decimal sum and the per-query
    window. Nothing joins the postings side, so nothing repartitions by
    term. With ``dfreq`` a request is six Spark jobs.

    ``group_col``: the grouped face over a grouped fielded index
    (:func:`fielded_index` / :func:`field_stats` /
    :func:`fielded_term_stats` all built with the same ``group_col`` —
    per-language title/body, the multi-corpus production norm). Same
    contract as :func:`bm25_topk`'s: queries carry the group and search
    ONLY their own group's postings with that group's per-field
    avgdl / N / doc-grain df, NULL-safely; ``query_id`` unique ACROSS
    groups; the group rides the output; both literal maps are keyed by
    the group, so a posting of another group finds no entry.

    Build-arg validation: per-field ``b`` keys must be a subset of
    ``weights`` (checked at construction), and a postings (group,)
    field that is
    missing from ``fstats`` or carries avgdl ≤ 0 raises AT EXECUTION
    (a lazy ``raise_error`` inside the scoring expression — zero cost
    on the valid path) instead of silently dropping that field's
    postings from scoring. A ``weights`` field with no postings
    anywhere simply contributes nothing — validate the fields mapping
    upstream if that matters. ``filter_ids``: predicate-constrained
    search — the :func:`bm25_topk` contract (doc-id or (group, id)
    table; doc-grain df and per-field avgdl stay corpus-level, so
    allowed docs score identically to the unfiltered run)."""
    if not weights:
        raise ValueError("weights must select at least one field")
    if isinstance(b, dict):
        unknown_b = sorted(set(b) - set(weights))
        if unknown_b:
            raise ValueError(
                f"bm25f_topk: per-field b names field(s) not in "
                f"weights: {unknown_b}"
            )
    bmap = (
        {f: float(b) for f in weights}
        if not isinstance(b, dict)
        else {f: float(b.get(f, 0.75)) for f in weights}
    )
    from datamunging_spark.operators.relational import top_k_per_group

    gb = [group_col] if group_col else []
    qtype = queries.schema[query_id_col].dataType
    # (group key, term) → the query ids holding it (term SETS)
    keys: dict = {}
    for r in _collect_queries(
        queries, query_col, query_id_col, lowercase, group_col
    ):
        for t in r["_t"]:
            keys.setdefault((r["_gk"], t), {})[r["_q"]] = None
    if dfreq is None:
        # doc-grain df over ALL indexed fields, before the weights cut
        dfreq = fielded_term_stats(
            postings.filter(
                F.col("term").isin(sorted({t for _, t in keys}))
            ),
            id_col, group_col,
        )
    fscal, dfs = _term_scalars(
        postings, fstats, dfreq, keys, group_col, by="field"
    )
    n_docs: dict = {}  # per-group corpus N (identical on a group's rows)
    for (g, _), (n, _) in fscal.items():
        if n is not None:
            n_docs[g] = max(n_docs.get(g, n), n)
    entries = {}
    for key, qids in keys.items():
        if key not in dfs:
            continue  # term absent from the corpus
        n = n_docs.get(key[0])
        if max_df_frac is not None and not (
            n is not None and dfs[key] <= float(max_df_frac) * n
        ):
            continue  # the stopword valve, cut before the scan
        entries[key] = F.struct(
            F.lit(n).cast("long").alias("n_docs"),
            F.lit(dfs[key]).cast("long").alias("df"),
            F.array(*[F.lit(q).cast(qtype) for q in qids]).alias("q"),
        )
    qmap = _query_map(
        entries,
        group_col,
        f"struct<n_docs:bigint,df:bigint,q:array<{qtype.simpleString()}>>",
    )
    amap = _query_map(
        {
            key: F.lit(avgdl).cast("double")
            for key, (_, avgdl) in fscal.items()
            if key[1] in weights
        },
        group_col, "double", key="field",
    )
    if group_col:
        postings = postings.withColumn("_gk", _gkey(group_col))
    matched = _apply_lex_filter(
        postings.filter(
            F.col("term").isin(sorted({t for _, t in entries}))
            & F.col("field").isin(*weights)
        ),
        filter_ids, group_col, id_col, "bm25f_topk",
    )
    w_f = _field_ladder(weights)
    b_f = _field_ladder(bmap)
    # Build-arg validation, lazily INSIDE the scoring expression (no
    # construction-time job): a posting whose field is missing from
    # fstats — or carries avgdl <= 0 — raises at execution instead of
    # silently dropping that field's postings from scoring / dividing
    # by zero.
    avgdl_ok = F.when(
        F.col("_avgdl").isNull() | (F.col("_avgdl") <= 0),
        F.raise_error(
            F.concat(
                F.lit("bm25f_topk: field '"),
                F.col("field"),
                F.lit(
                    "' is missing from fstats or has avgdl <= 0 — "
                    "fstats must come from field_stats with the same "
                    "fields mapping fielded_index was built with"
                ),
            )
        ).cast("double"),
    ).otherwise(F.col("_avgdl"))
    # per-(query, doc, term): exact decimal fold of the weighted
    # per-field normalized tf — order-free, so tf~ is reproducible
    wtf = (
        (
            w_f
            * (
                F.col("tf")
                / (
                    F.lit(1.0)
                    + b_f
                    * (F.col("field_len") / avgdl_ok - F.lit(1.0))
                )
            )
        )
        .cast(_CONTRIB_DECIMAL)
        .alias("_wtf")
    )
    # the check runs AFTER the explode, on postings some query holds
    per_term = (
        matched.select(
            *gb, id_col, "field", "term", "tf", "field_len",
            F.element_at(qmap, _query_key(group_col)).alias("_k"),
            F.element_at(amap, _query_key(group_col, "field")).alias(
                "_avgdl"
            ),
        )
        .select(
            *gb, id_col, "field", "term", "tf", "field_len", "_avgdl",
            "_k.n_docs", "_k.df", F.explode("_k.q").alias("query_id"),
        )
        .select("query_id", *gb, id_col, "term", "n_docs", "df", wtf)
        .groupBy("query_id", *gb, id_col, "term", "n_docs", "df")
        .agg(F.sum("_wtf").alias("_tfw"))
    )
    tfw = F.col("_tfw").cast("double")
    per_doc = (
        per_term.select(
            "query_id",
            *gb,
            F.col(id_col),
            (_idf() * (tfw / (F.lit(float(k1)) + tfw)))
            .cast(_CONTRIB_DECIMAL)
            .alias("_c"),
        )
        .groupBy("query_id", *gb, id_col)
        .agg(F.sum("_c").alias("_s"))
    )
    return top_k_per_group(
        per_doc,
        ["query_id"],
        [F.col("_s").desc(), F.col(id_col).asc()],
        k,
        rank_out="rank",
    ).select(
        "query_id",
        *gb,
        id_col,
        "rank",
        F.col("_s").cast("double").alias("bm25f"),
    )


def index_health(
    postings: DataFrame,
    stats: DataFrame | None = None,
    dfreq: DataFrame | None = None,
    group_col: str | None = None,
    hot_terms: int = 0,
) -> DataFrame:
    """Postings-list balance report — the lexical index's health leg
    (the :func:`~datamunging_spark.operators.similarity.ivf_cell_stats`
    twin; how a 100 TB operator picks ``max_df_frac`` and decides
    whether a CommonGrams/stop-analysis pass is due): one summary row
    (per group on the grouped face) with

    - ``n_terms`` / ``n_postings`` — vocabulary size and index rows,
    - ``max_df`` / ``mean_df`` / ``p90_df`` / ``p99_df`` — the
      document-frequency spread (hot terms are the lexical skew: one
      stopword's posting slice is corpus-sized, the same
      search-latency killer as a hot IVF cell),
    - with ``stats``: ``n_docs`` and ``max_df_frac`` = max_df/n_docs —
      the observed worst term, directly comparable to the valve/guard
      threshold you would set.

    ``hot_terms=N`` returns the top-N hottest terms per group instead
    ((term, df[, df_frac]) — df desc, term asc; the candidate stop
    list). Scale shape: ONE summary-sized aggregate over the df table
    (``dfreq`` = :func:`term_stats` reused when given, derived in one
    map-side-combinable pass otherwise); percentiles are
    ``percentile_approx`` — report-grade, not oracle-grade."""
    gb = [group_col] if group_col else []
    d = dfreq if dfreq is not None else term_stats(postings, group_col)
    if stats is not None:
        nd = stats.select(*gb, "n_docs")
        if group_col:
            d = d.withColumn("_gk", _gkey(group_col)).drop(group_col)
            nd = nd.withColumn("_gk", _gkey(group_col))
            d = d.join(F.broadcast(nd), "_gk").drop("_gk")
        else:
            d = d.crossJoin(F.broadcast(nd))
    if hot_terms:
        from datamunging_spark.operators.relational import (
            top_k_per_group,
        )

        extra = (
            [(F.col("df") / F.col("n_docs")).alias("df_frac")]
            if stats is not None
            else []
        )
        return top_k_per_group(
            d,
            gb,
            [F.col("df").desc(), F.col("term").asc()],
            int(hot_terms),
            rank_out="rank",
        ).select(*gb, "term", "df", *extra, "rank")
    aggs = [
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("df").alias("n_postings"),
        F.max("df").alias("max_df"),
        F.avg("df").alias("mean_df"),
        F.percentile_approx("df", 0.9).alias("p90_df"),
        F.percentile_approx("df", 0.99).alias("p99_df"),
    ]
    if stats is not None:
        aggs += [
            F.max("n_docs").alias("n_docs"),
            (F.max("df") / F.max("n_docs")).alias("max_df_frac"),
        ]
    return d.groupBy(*gb).agg(*aggs)


def stats_from_postings(
    postings: DataFrame,
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """(n_docs, total_len, avgdl) re-derived from a postings table —
    for consumers holding ONLY the index (e.g. the streaming
    index-maintenance loop, whose versioned state is the postings
    table alone): distinct (doc, doc_len) pairs → one exact-long
    aggregate. DIVERGENCE from :func:`index_stats`, documented: a
    zero-term document has no postings, so it is invisible here —
    n_docs counts docs with ≥1 term (the searchable corpus), which is
    every doc a streamed index can ever return. One index-grain
    distinct (a shuffle over slim (doc, len) rows) — run it at index
    refresh time, not per query; on the build path prefer
    :func:`index_stats` + :func:`combine_index_stats`, which never
    rescan anything. ``group_col``: one row per group from a grouped
    index (docs are unique within their group), the grouped
    :func:`index_stats` shape."""
    gb = [group_col] if group_col else []
    sized = postings.select(
        *gb, F.col(id_col), F.col("doc_len")
    ).distinct()
    grouped = sized.groupBy(*gb) if gb else sized
    return grouped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("doc_len"), F.lit(0))
        .cast("long")
        .alias("total_len"),
        (
            F.sum("doc_len").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )


def _candidate_df(
    postings: DataFrame,
    cand_terms: DataFrame,
    stats: DataFrame,
    dfreq: DataFrame | None,
    min_df: int,
    max_df_frac: float | None,
    gk: bool = False,
) -> DataFrame:
    """(term, df) for a candidate term set with the MoreLikeThis
    guards — ONE home for the selection-df derivation
    :func:`more_like_this` and :func:`prf_expand` share: a precomputed
    :func:`term_stats` table pruned to the candidates, or one postings
    count pass; ``min_df`` cuts hapaxes, ``max_df_frac`` the stopword
    valve — both on the broadcast-sized df table BEFORE any postings
    join. ``gk``: the grouped face — every input already carries
    ``_gk``; df, the hapax cut and the valve are then per-group
    (hotness judged against the term's OWN group's n_docs)."""
    jk = (["_gk"] if gk else []) + ["term"]
    if dfreq is None:
        cdf = term_stats(
            postings.join(F.broadcast(cand_terms), jk),
            group_col="_gk" if gk else None,
        )
    else:
        cdf = dfreq.join(F.broadcast(cand_terms), jk)
    if min_df > 1:
        cdf = cdf.filter(F.col("df") >= int(min_df))
    if max_df_frac is not None:
        joined = (
            cdf.join(F.broadcast(stats), "_gk")
            if gk
            else cdf.crossJoin(F.broadcast(stats))
        )
        cdf = joined.filter(
            F.col("df") <= F.lit(float(max_df_frac)) * F.col("n_docs")
        ).select(*jk, "df")
    return cdf


def more_like_this(
    postings: DataFrame,
    doc_ids: DataFrame,
    stats: DataFrame,
    k: int = 10,
    max_query_terms: int = 25,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    dfreq: DataFrame | None = None,
    max_df_frac: float | None = None,
    min_df: int = 1,
    include_self: bool = False,
    filter_ids: DataFrame | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """"Find documents like these" — Lucene's MoreLikeThis, answered
    from the INDEX ALONE (no text re-tokenization): for each source
    doc in ``doc_ids`` (a small (``id_col``) batch, broadcast by
    contract), pick its ``max_query_terms`` most distinctive terms by
    tf·idf over its own postings, then run a standard
    :func:`bm25_topk` scoring of those terms against the corpus.
    Output (query_id = source doc id, ``id_col``, rank, bm25); the
    source doc itself is excluded unless ``include_self=True`` (it
    would otherwise always rank first, drowning the neighbors — with
    it on, rank 1 == self is a useful sanity invariant).

    ``min_df`` drops terms seen in fewer than that many docs (Lucene's
    ``minDocFreq`` — typo-ish hapaxes carry extreme idf and hijack the
    term budget); ``max_df_frac`` is the usual stopword valve, applied
    to the term-selection df table BEFORE any postings join. Term
    selection ties break (tf·idf desc, term asc) so the chosen term
    set is deterministic on any engine.

    Plan: ONE postings semi-join on the broadcast doc-id batch pulls
    the source docs' postings (query-sized); idf from ``dfreq`` (pass
    :func:`term_stats` — the on-the-fly fallback derives df of the
    candidate terms from a second postings pass, same trade as
    bm25_topk); a per-source top-``max_query_terms`` window; then the
    scoring leg is exactly bm25_topk's broadcast skeleton with the
    (source, term) pairs as the query-term table. Nothing repartitions
    by term; the only corpus-grain touch is the pushed postings scan.
    ``filter_ids``: predicate-constrained neighbors ("similar docs
    WITHIN lang='en'") — the :func:`bm25_topk` contract (one-column
    doc-id table; term selection and df stay corpus-level, the cut
    lands on the scoring branch only). The SOURCE docs need not be in
    the filter — it constrains what can be retrieved, not what can
    ask. ``group_col``: the grouped face over a grouped index
    (``doc_ids`` carries the group column; ``stats``/``dfreq`` must
    be the grouped faces) — each source selects terms against its OWN
    group's df/n_docs and retrieves from its own corpus only, NULL
    group included; (group, query_id) is the output grain, since doc
    ids are only unique within their group."""
    gb = [group_col] if group_col else []
    gk = ["_gk"] if group_col else []
    jk = gk + ["term"]
    if group_col:
        postings = postings.withColumn("_gk", _gkey(group_col))
        stats = stats.withColumn("_gk", _gkey(group_col)).drop(group_col)
        if dfreq is not None:
            dfreq = dfreq.withColumn("_gk", _gkey(group_col)).drop(
                group_col
            )
        ids = doc_ids.select(
            _gkey(group_col).alias("_gk"), F.col(id_col)
        ).distinct()
    else:
        ids = doc_ids.select(F.col(id_col)).distinct()
    src = postings.join(F.broadcast(ids), gk + [id_col])
    # df table for idf/valve: precomputed (pruned to the source docs'
    # terms) or derived from the source postings' term set — the
    # shared _candidate_df guards (min_df hapax cut, stopword valve)
    dfreq = _candidate_df(
        postings, src.select(*jk).distinct(), stats, dfreq,
        min_df, max_df_frac, gk=bool(group_col),
    )
    idf = _idf()
    scored_terms = src.join(F.broadcast(dfreq), jk)
    if group_col:
        scored_terms = scored_terms.join(
            F.broadcast(stats.select("_gk", "n_docs")), "_gk"
        )
    else:
        scored_terms = scored_terms.crossJoin(
            F.broadcast(stats.select("n_docs"))
        )
    scored_terms = scored_terms.select(
        *gk,
        F.col(id_col).alias("query_id"),
        "term",
        (F.col("tf") * idf).alias("_tfidf"),
    )
    w = Window.partitionBy(*gk, "query_id").orderBy(
        F.col("_tfidf").desc(), F.col("term").asc()
    )
    qt = (
        scored_terms.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= int(max_query_terms))
        .select(*gk, "query_id", "term")
    )
    # scoring leg == bm25_topk with qt as the prebuilt term table
    matched = postings.join(
        F.broadcast(qt.select(*jk).distinct()), jk
    )
    # the filter cuts CANDIDATES only — term selection and df above
    # are corpus-level (the bm25_topk filter_ids contract)
    matched = _apply_lex_filter(
        matched, filter_ids, group_col, id_col, "more_like_this"
    )
    dfq = dfreq  # already query-term-pruned (and valved)
    scored = matched.join(F.broadcast(qt), jk).join(
        F.broadcast(dfq), jk
    )
    if group_col:
        scored = scored.join(F.broadcast(stats), "_gk")
    else:
        scored = scored.crossJoin(F.broadcast(stats))
    idf2, tfn = _bm25_parts(k1, b)
    per_doc = (
        scored.select(
            "query_id",
            *gb,
            F.col(id_col),
            (idf2 * tfn).cast(_CONTRIB_DECIMAL).alias("_c"),
        )
        .groupBy("query_id", *gb, id_col)
        .agg(F.sum("_c").alias("_s"))
    )
    if not include_self:
        per_doc = per_doc.filter(F.col("query_id") != F.col(id_col))
    from datamunging_spark.operators.relational import top_k_per_group

    return top_k_per_group(
        per_doc,
        [*gb, "query_id"],
        [F.col("_s").desc(), F.col(id_col).asc()],
        k,
        rank_out="rank",
    ).select(
        "query_id",
        *gb,
        id_col,
        "rank",
        F.col("_s").cast("double").alias("bm25"),
    )


def prf_expand(
    postings: DataFrame,
    queries: DataFrame,
    stats: DataFrame,
    fb_docs: int = 5,
    fb_terms: int = 10,
    query_col: str = "query",
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
    dfreq: DataFrame | None = None,
    min_df: int = 1,
    max_df_frac: float | None = None,
    return_terms: bool = False,
    beta: float = 0.5,
    filter_ids: DataFrame | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion — the Rocchio idiom
    (Rocchio 1971; Lucene's PRF recipe = MoreLikeThis over the top
    hits): run BM25, treat each query's top ``fb_docs`` hits as
    relevant, rank the feedback docs' terms by summed tf·idf over the
    feedback set (the :func:`more_like_this` selection, ties broken
    (score desc, term asc) so the expansion is deterministic on any
    engine), drop the query's own terms, keep ``fb_terms``. Output one
    row per input query: (query_id, ``query_col``, expanded_query)
    where ``expanded_query`` is the original text plus the selected
    terms space-joined in selection order — feed it straight back to
    :func:`bm25_topk` (query terms are SETS, so unit-weight expansion
    is Rocchio on the discrete term space) or hand the terms to
    :func:`boolean_topk` as extra ``should`` text. A query whose
    search matches nothing expands to itself.

    ``min_df`` / ``max_df_frac`` are the :func:`more_like_this`
    guards, applied to the candidate-term df table BEFORE any
    postings join (hapaxes hijack the idf budget; stopwords drag
    corpus-sized posting slices). ``dfreq`` (a :func:`term_stats`
    table) keeps the whole call index-artifact-only.

    ``return_terms=True`` adds the RM3-style weighted form to the SAME
    output (one bm25 run, one feedback scan — not a second call): a
    ``boosts`` column of (term, boost) structs in selection order,
    boost = ``beta`` × (summed tf·idf / the query's max) — Rocchio's β
    on max-normalized weights, in (0, β]; empty for no-hit queries.
    Explode it into :func:`bm25_topk`'s ``term_boosts`` alongside the
    ``expanded_query`` text (original terms keep their implicit boost
    1.0), so expansion vocabulary widens recall without out-voting
    what the user actually typed.

    Plan: one :func:`bm25_topk` (its shapes documented there), then
    ONE postings semi-join on the broadcast feedback doc ids
    (fb_docs·|queries| rows — query-sized), a per-(query, term)
    decimal tf·idf fold, a per-query window, and a query-sized
    collect_list. Nothing beyond the two pushed postings scans is
    corpus-grain. ``filter_ids``: when the EXPANDED query will search
    a filtered corpus, pass the same filter here — feedback docs then
    come from the allowed sub-corpus (expansion terms mined from docs
    the final search can never return would drag the query toward the
    excluded population); the :func:`bm25_topk` contract applies.
    ``group_col``: the grouped face over a grouped index (queries
    carry the group; ``stats``/``dfreq`` the grouped faces;
    query_id globally unique, the grouped-search contract) — feedback
    and expansion vocabulary come from each query's OWN group's
    corpus/df, and the group column rides the output for the re-feed
    to the grouped :func:`bm25_topk`."""
    ranked = bm25_topk(
        postings, queries, stats, k=int(fb_docs),
        query_col=query_col, query_id_col=query_id_col, id_col=id_col,
        k1=k1, b=b, lowercase=lowercase, dfreq=dfreq,
        max_df_frac=max_df_frac, filter_ids=filter_ids,
        group_col=group_col,
    )
    gb = [group_col] if group_col else []
    gk = ["_gk"] if group_col else []
    jk = gk + ["term"]
    if group_col:
        postings = postings.withColumn("_gk", _gkey(group_col))
        stats = stats.withColumn("_gk", _gkey(group_col)).drop(group_col)
        if dfreq is not None:
            dfreq = dfreq.withColumn("_gk", _gkey(group_col)).drop(
                group_col
            )
        fb = ranked.select(
            "query_id", _gkey(group_col).alias("_gk"), F.col(id_col)
        )
    else:
        fb = ranked.select("query_id", F.col(id_col))
    # one broadcast join restricts postings to the feedback docs AND
    # attaches query_id (fb is fb_docs x |queries| rows); group-matched
    # on the grouped face, so feedback terms come from the OWN corpus
    fb_post = postings.join(F.broadcast(fb), gk + [id_col])
    # candidate-term df for idf: the shared _candidate_df guards —
    # precomputed (pruned) or one postings count pass
    cdf = _candidate_df(
        postings, fb_post.select(*jk).distinct(), stats, dfreq,
        min_df, max_df_frac, gk=bool(group_col),
    )
    idf = _idf()
    scored = fb_post.join(F.broadcast(cdf), jk)
    if group_col:
        scored = scored.join(
            F.broadcast(stats.select("_gk", "n_docs")), "_gk"
        )
    else:
        scored = scored.crossJoin(F.broadcast(stats.select("n_docs")))
    scored = (
        scored.select(
            "query_id",
            "term",
            (F.col("tf") * idf).cast(_CONTRIB_DECIMAL).alias("_w"),
        )
        .groupBy("query_id", "term")
        .agg(F.sum("_w").alias("_w"))
    )
    # drop the query's own terms — expansion adds NEW vocabulary
    own = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(search_terms(query_col, lowercase)).alias("term"),
    ).distinct()
    fresh = scored.join(F.broadcast(own), ["query_id", "term"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("_w").desc(), F.col("term").asc()
    )
    sel = fresh.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= int(fb_terms)
    )
    aggs = [
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_r", "term"))),
                lambda st: st["term"],
            ),
            " ",
        ).alias("_exp")
    ]
    if return_terms:
        # boosts ride the SAME pass (one bm25 run, one feedback scan,
        # one selection fold — not a second prf_expand call)
        sel = sel.withColumn(
            "_max", F.max("_w").over(Window.partitionBy("query_id"))
        ).withColumn(
            "_boost",
            F.lit(float(beta))
            * (F.col("_w").cast("double") / F.col("_max").cast("double")),
        )
        aggs.append(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_r", "term", "_boost"))
                ),
                lambda st: F.struct(
                    st["term"].alias("term"),
                    st["_boost"].alias("boost"),
                ),
            ).alias("_boosts")
        )
    picked = sel.groupBy("query_id").agg(*aggs)
    out_cols = [
        "query_id",
        *gb,
        query_col,
        F.when(
            F.col("_exp").isNull() | (F.col("_exp") == ""),
            F.col(query_col),
        )
        .otherwise(F.concat_ws(" ", F.col(query_col), F.col("_exp")))
        .alias("expanded_query"),
    ]
    if return_terms:
        out_cols.append(
            F.coalesce(
                F.col("_boosts"),
                F.array().cast(
                    "array<struct<term:string,boost:double>>"
                ),
            ).alias("boosts")
        )
    return queries.select(
        F.col(query_id_col).alias("query_id"), *gb, F.col(query_col)
    ).join(F.broadcast(picked), "query_id", "left").select(*out_cols)


def _delete_variants(col: Column, max_edit: int) -> Column:
    """``array<string>`` of all strings reachable from ``col`` by up to
    ``max_edit`` single-character deletions, the string itself included
    — SymSpell's delete neighborhood, as a pure expression: one
    ``transform`` over character indices per deletion round, flattened
    and deduped. A pair of terms within Levenshtein distance d always
    shares a variant when both sides expand d deletions (substitution:
    drop the differing character from both; insertion/deletion: drop it
    from the longer side), so the variant equi-join has EXACT recall —
    the verify predicate only removes false candidates."""
    def deletes(c):
        # guard the empty string: sequence(0, -1) would DESCEND
        return F.when(
            F.length(c) > 0,
            F.transform(
                F.sequence(F.lit(0), F.length(c) - 1),
                lambda i: F.concat(
                    c.substr(F.lit(1), i),
                    c.substr(i + F.lit(2), F.length(c)),
                ),
            ),
        ).otherwise(F.slice(F.array(c), 1, 0))

    out = F.array(col)
    frontier = F.array(col)
    for _ in range(int(max_edit)):
        frontier = F.array_distinct(
            F.flatten(F.transform(frontier, deletes))
        )
        out = F.array_distinct(F.concat(out, frontier))
    return out


def spell_suggest(
    dfreq: DataFrame,
    queries: DataFrame,
    k: int = 3,
    query_col: str = "term",
    max_edit: int = 1,
    min_df: int = 1,
    max_term_len: int = 32,
    group_col: str | None = None,
) -> DataFrame:
    """"Did you mean" — spelling suggestions for query terms from the
    INDEX VOCABULARY, the SymSpell shape (Garbe's symmetric-delete
    algorithm) done relationally: expand every vocabulary term and
    every query term to its ≤``max_edit``-deletion neighborhood, join
    on shared variants (exact recall for Levenshtein ≤ max_edit — see
    :func:`_delete_variants`), verify with the true JVM
    ``levenshtein``, rank per query term by (distance asc, df desc,
    suggestion asc) and keep ``k``. Output (term, suggestion,
    distance, df, rank); exact vocabulary hits come back at
    distance 0, rank 1 — callers usually filter to terms whose rank-1
    distance > 0.

    ``dfreq`` is a :func:`term_stats` table (the vocabulary WITH
    popularity — df breaks ties toward common words, the standard
    suggestion heuristic); ``queries`` is a SMALL table with
    ``query_col`` holding one term per row (broadcast side by
    contract — tokenize upstream). ``min_df`` prunes hapax vocabulary
    (often itself typos) BEFORE the expansion; ``max_term_len`` skips
    pathological tokens (URLs, hashes) on both sides — each is a
    valve on the expansion size, which is |V| × term-length rows at
    max_edit=1 (≈ the postings of one average document per thousand
    vocab terms; max_edit=2 squares the per-term factor — keep it ≤ 2).
    Plan: ONE vocabulary scan + explode, equi-joined against the
    broadcast query neighborhood — the vocabulary never shuffles; the
    per-query top-k is a window over candidate matches. ``group_col``:
    the grouped face — ``dfreq`` is a grouped :func:`term_stats`
    table and ``queries`` carry the group column; each query term
    draws suggestions from its OWN group's vocabulary with that
    group's df tie-break, NULL-safely, and the group rides the
    output (a "did you mean" must not suggest another language's
    spelling)."""
    if max_edit < 1:
        raise ValueError("max_edit must be >= 1")
    gb = [group_col] if group_col else []
    gk = ["_gk"] if group_col else []
    vocab = dfreq.filter(
        (F.col("df") >= int(min_df))
        & (F.length("term") <= int(max_term_len))
    )
    if group_col:
        vocab = vocab.withColumn("_gk", _gkey(group_col)).drop(
            group_col
        )
    vvar = vocab.select(
        *gk,
        F.col("term").alias("suggestion"),
        "df",
        F.explode(_delete_variants(F.col("term"), max_edit)).alias(
            "_v"
        ),
    )
    q = queries.select(*gb, F.col(query_col).alias("_qterm")).where(
        F.length("_qterm") <= int(max_term_len)
    )
    if group_col:
        q = q.select(_gkey(group_col).alias("_gk"), *gb, "_qterm")
    qvar = q.distinct().select(
        *gk,
        *gb,
        "_qterm",
        F.explode(_delete_variants(F.col("_qterm"), max_edit)).alias(
            "_v"
        ),
    ).distinct()
    cand = (
        vvar.join(F.broadcast(qvar), gk + ["_v"])
        .select(*gb, "_qterm", "suggestion", "df")
        .dropDuplicates([*gb, "_qterm", "suggestion"])
        .withColumn(
            "distance", F.levenshtein(F.col("_qterm"), F.col("suggestion"))
        )
        .filter(F.col("distance") <= int(max_edit))
    )
    from datamunging_spark.operators.relational import top_k_per_group

    return top_k_per_group(
        cand,
        [*gb, "_qterm"],
        [
            F.col("distance").asc(),
            F.col("df").desc(),
            F.col("suggestion").asc(),
        ],
        k,
        rank_out="rank",
    ).select(
        F.col("_qterm").alias("term"),
        *gb,
        "suggestion",
        "distance",
        "df",
        "rank",
    )


def _covering_window_scan(n_col: Column) -> Column:
    """The unordered minimal-covering-window fold — ONE home for the
    algorithm :func:`near_topk` (unordered mode) and
    :func:`hit_windows` both rank with: a pure codegen ``aggregate``
    HOF over the per-(query, doc) ``_merged`` array of (pos, t)
    structs (position-sorted), carrying last-seen position per term
    index; whenever all ``n_col`` terms have been seen, the window
    ``pos − min(last_seen) + 1`` competes for the best. Returns the
    final (best, bstart) struct; ``bstart`` is the FIRST minimal
    window's start in scan order."""
    big = F.lit(2**31 - 1)

    def _ustep(acc, x):
        def new_last():
            return F.transform(
                acc["last"],
                lambda v, i: F.when(i == x["t"], x["pos"]).otherwise(v),
            )

        improved = ~F.array_contains(new_last(), F.lit(-1)) & (
            x["pos"] - F.array_min(new_last()) + F.lit(1) < acc["best"]
        )
        return F.struct(
            new_last().alias("last"),
            F.when(
                improved,
                x["pos"] - F.array_min(new_last()) + F.lit(1),
            )
            .otherwise(acc["best"])
            .alias("best"),
            F.when(improved, F.array_min(new_last()))
            .otherwise(acc["bstart"])
            .alias("bstart"),
        )

    return F.aggregate(
        F.col("_merged"),
        F.struct(
            F.array_repeat(F.lit(-1), n_col.cast("int")).alias("last"),
            big.alias("best"),
            F.lit(-1).alias("bstart"),
        ),
        _ustep,
        lambda acc: F.struct(
            acc["best"].alias("best"), acc["bstart"].alias("bstart")
        ),
    )


def near_topk(
    postings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    slop: int = 0,
    query_col: str = "query",
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    lowercase: bool = True,
    ordered: bool = False,
    group_col: str | None = None,
    stats: DataFrame | None = None,
    dfreq: DataFrame | None = None,
    max_df_frac: float | None = None,
    on_hot: str = "raise",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Proximity search over a POSITIONAL index — Lucene's
    ``SpanNearQuery``: a doc qualifies iff some token window contains
    the query terms within window length ≤ n_terms + ``slop``.
    ``ordered=False`` (default, ``inOrder=false``): at least one
    occurrence of every DISTINCT query term, in any order (duplicate
    query terms collapse — term-SET semantics). ``ordered=True``
    (``inOrder=true`` — the sloppy-phrase form): positions p_0 < p_1 <
    … matching the query's token SEQUENCE in order, duplicates kept,
    so "a b a" demands two distinct a-positions around a b. Output
    (query_id, ``id_col``, rank, min_span, span_start) where
    ``min_span`` is the smallest qualifying window's token length and
    ``span_start`` its 0-based token offset (the FIRST such window in
    scan order — feed it to :func:`snippets`); ranks order by
    (min_span asc, doc asc) — tighter is better. ``slop=0`` with
    ``ordered=True`` accepts exactly the :func:`phrase_topk` matches
    (pinned by test).

    Both modes are PURE whole-stage-codegen folds (no UDF) over the
    per-(query, doc) merged position array: unordered runs the classic
    minimal-covering-window scan (last-seen position per term; window
    = pos − min(last_seen) + 1 whenever all seen); ordered runs the
    minimal-window-subsequence DP (per query-prefix, carry the LATEST
    possible chain start; entries at equal positions process in
    descending query offset so a chain never reuses one position —
    the standard dominance argument makes latest-start optimal).
    O(total positions · n_terms) per doc, all expression-level. Plan
    shape identical to :func:`phrase_topk`: the SMALL query batch is
    collected once (by contract, like :func:`bm25_topk`'s) and rides
    the plan as a pushed ``term IN (...)`` filter on the one postings
    scan plus a literal map (group, term) → [(query, tag, n_terms)] —
    the tag is the negated query offset when ordered, the term's index
    among the query's sorted distinct terms when not. The shuffles are
    the matched (query, doc) aggregate and the per-query window, so a
    request with the guard off is four Spark jobs (an armed guard adds
    its one collect). ``group_col``: the grouped face over a grouped
    positional index (the :func:`bm25_topk` contract —
    queries carry the group, NULL-safe, group rides the output).

    ``max_df_frac`` (with ``stats``, and ideally ``dfreq`` =
    :func:`term_stats`) arms the hot-term GUARD — proximity semantics
    forbid silently dropping a term, so a hot query term fails fast
    (``on_hot='raise'``) or warns (``'warn'``) at query-construction
    time instead of dragging its corpus-scale positional posting slice
    through the aggregate; see :func:`_positional_hot_guard`.
    DEFAULT-ARMED at the warn tier (``max_df_frac=0.5``) when
    ``stats`` AND ``dfreq`` are both provided, like
    :func:`phrase_topk` (the check is then one query-sized collect;
    without dfreq the default stays off rather than auto-running a postings
    aggregate per construction); fully off — the parity configuration
    — when stats are absent.
    ``filter_ids``: predicate-constrained search — the
    :func:`phrase_topk` contract (doc-id or (group, id) table, cut on
    the matched postings before the window scan)."""
    if "positions" not in postings.columns:
        raise ValueError(
            "near_topk needs a positional index — build the postings "
            "with inverted_index(..., positions=True)"
        )
    gb = [group_col] if group_col else []
    qtype = queries.schema[query_id_col].dataType
    big = F.lit(2**31 - 1)
    # ordered: the query token SEQUENCE, duplicates kept, tag = -offset
    # so the (pos asc, tag asc) array sort processes equal positions in
    # DESCENDING offset order (a chain never reuses one position);
    # unordered: the sorted term SET, tag = the term's index in it
    tname = "nt" if ordered else "t"
    seqs: dict = {}
    for r in _collect_queries(
        queries, query_col, query_id_col, lowercase, group_col
    ):
        seqs.setdefault((r["_gk"], r["_q"]), []).extend(r["_t"])
    keys: dict = {}  # (group key, term) → [(query, tag, n_terms)]
    for (g, qid), toks in seqs.items():
        toks = toks if ordered else sorted(set(toks))
        for i, t in enumerate(toks):
            keys.setdefault((g, t), []).append(
                F.struct(
                    F.lit(qid).cast(qtype).alias("query_id"),
                    F.lit(-i if ordered else i).alias("tag"),
                    F.lit(len(toks)).alias("n"),
                )
            )
    if max_df_frac is None and stats is not None and dfreq is not None:
        # default-armed warn tier, query-sized check only (see
        # docstring; r15-close advice)
        max_df_frac, on_hot = 0.5, "warn"
    _positional_hot_guard(
        keys, postings, stats, dfreq, max_df_frac, group_col,
        "near_topk", on_hot,
    )
    qmap = _query_map(
        {key: F.array(*v) for key, v in keys.items()},
        group_col,
        f"array<struct<query_id:{qtype.simpleString()},tag:int,n:int>>",
    )
    if group_col:
        postings = postings.withColumn("_gk", _gkey(group_col))
    hits = _apply_lex_filter(
        postings.filter(F.col("term").isin(sorted({t for _, t in keys}))),
        filter_ids, group_col, id_col, "near_topk",
    ).select(
        *gb,
        id_col,
        "positions",
        F.explode(F.element_at(qmap, _query_key(group_col))).alias("_q"),
    ).select(
        F.col("_q.query_id").alias("query_id"),
        F.col("_q.n").alias("_n"),
        *gb,
        id_col,
        F.transform(
            "positions",
            lambda p: F.struct(
                p.cast("int").alias("pos"), F.col("_q.tag").alias(tname)
            ),
        ).alias("_tagged"),
    )
    final = lambda acc: F.struct(  # noqa: E731
        acc["best"].alias("best"), acc["bstart"].alias("bstart")
    )
    if ordered:
        # minimal-window-subsequence DP: start[i] = latest possible
        # start of a chain matching query tokens 0..i in order
        def _ostep(acc, x):
            off = -x["nt"]
            # CASE branches evaluate lazily, so element_at(…, 0) can
            # never fire (ANSI would reject the 0 index); for off >= 1
            # the 1-based element_at(start, off) IS start[off-1]
            chain_start = F.when(off == 0, x["pos"]).otherwise(
                F.element_at(acc["start"], off)
            )
            valid = F.when(off == 0, F.lit(True)).otherwise(
                F.element_at(acc["start"], off) != -1
            )
            improved = (
                valid
                & (off == F.col("_n") - 1)
                & (x["pos"] - chain_start + F.lit(1) < acc["best"])
            )
            return F.struct(
                F.when(
                    valid,
                    F.transform(
                        acc["start"],
                        lambda v, i: F.when(
                            i == off, chain_start
                        ).otherwise(v),
                    ),
                )
                .otherwise(acc["start"])
                .alias("start"),
                F.when(
                    improved, x["pos"] - chain_start + F.lit(1)
                )
                .otherwise(acc["best"])
                .alias("best"),
                F.when(improved, chain_start)
                .otherwise(acc["bstart"])
                .alias("bstart"),
            )

        scan = F.aggregate(
            F.col("_merged"),
            F.struct(
                F.array_repeat(
                    F.lit(-1), F.col("_n").cast("int")
                ).alias("start"),
                big.alias("best"),
                F.lit(-1).alias("bstart"),
            ),
            _ostep,
            final,
        )
    else:
        scan = _covering_window_scan(F.col("_n"))
    merged = F.array_sort(F.flatten(F.collect_list("_tagged")))
    grouped = (
        hits.groupBy("query_id", "_n", *gb, id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_matched"),
            merged.alias("_merged"),
        )
        .filter(F.col("_n_matched") == F.col("_n"))
        .select(
            "query_id",
            *gb,
            id_col,
            F.col("_n"),
            scan.alias("_sc"),
        )
        .select(
            "query_id",
            *gb,
            id_col,
            "_n",
            F.col("_sc.best").alias("min_span"),
            F.col("_sc.bstart").alias("span_start"),
        )
        .filter(F.col("min_span") <= F.col("_n") + F.lit(int(slop)))
        .drop("_n")
    )
    from datamunging_spark.operators.relational import top_k_per_group

    return top_k_per_group(
        grouped,
        ["query_id"],
        [F.col("min_span").asc(), F.col(id_col).asc()],
        k,
        rank_out="rank",
    ).select(
        "query_id", *gb, id_col, "rank", "min_span", "span_start"
    )


def hit_windows(
    postings: DataFrame,
    hits: DataFrame,
    queries: DataFrame,
    query_col: str = "query",
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    lowercase: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """Best-window offsets for SCORE-RANKED hits — the highlight leg
    for :func:`bm25_topk` / :func:`bm25f_topk` / :func:`boolean_topk` /
    :func:`rrf_fuse` output (which carry no positions): per (query,
    doc) hit, the minimal token window covering every DISTINCT query
    term PRESENT IN THAT DOC, from a positional index. Output = the
    ``hits`` columns + ``n_terms`` (matched distinct terms),
    ``min_span``, ``span_start`` — feed it to :func:`snippets`.
    A hit whose doc matches NO query term (a vector-leg RRF hit) keeps
    its row with NULL window columns; its snippet comes back NULL.

    ``queries`` is the same (query_id, query text) batch the ranking
    was built from (boolean callers concatenate their must+should
    text). Unlike :func:`near_topk` this never needs a hot-term guard:
    the postings scan is cut to the HIT DOCS FIRST (one broadcast join
    on the top-k-sized doc-id list), so a hot query term contributes
    scan bandwidth, never a corpus-sized aggregate — everything after
    the first join is hits-sized. The window scan itself is
    :func:`near_topk`'s unordered covering-window fold (pure codegen
    ``aggregate`` HOF, no UDF), with term indexes assigned per (query,
    doc) over the matched subset so a partially-matching doc still gets
    its own best window. ``group_col``: the grouped face (hits and
    queries carry the group; NULL-safe; group rides the output)."""
    if "positions" not in postings.columns:
        raise ValueError(
            "hit_windows needs a positional index — build the postings "
            "with inverted_index(..., positions=True)"
        )
    gb = [group_col] if group_col else []
    jk = (["_gk"] if group_col else []) + ["term"]
    dk = (["_gk"] if group_col else []) + [id_col]
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        *gb,
        F.explode(search_terms(query_col, lowercase)).alias("term"),
    ).distinct()
    hk = hits.select(
        F.col(query_id_col).alias("query_id"), *gb, F.col(id_col)
    ).distinct()
    if group_col:
        qt = qt.withColumn("_gk", _gkey(group_col)).drop(group_col)
        hk = hk.withColumn("_gk", _gkey(group_col)).drop(group_col)
        postings = postings.withColumn("_gk", _gkey(group_col))
    # hit docs FIRST: the corpus-grain scan shrinks to the top-k-sized
    # doc list before any term matching; both joins broadcast
    matched = (
        postings.join(
            F.broadcast(hk.select(*dk).distinct()), dk
        )
        .join(F.broadcast(qt), jk)
        .join(F.broadcast(hk), ["query_id", *dk[:-1], id_col])
    )
    gk = ["_gk"] if group_col else []
    wt = Window.partitionBy("query_id", *gk, id_col).orderBy("term")
    tagged = matched.withColumn(
        "_tidx", F.row_number().over(wt) - 1
    ).select(
        "query_id",
        *gk,
        id_col,
        F.transform(
            "positions",
            lambda p: F.struct(
                p.cast("int").alias("pos"),
                F.col("_tidx").cast("int").alias("t"),
            ),
        ).alias("_tagged"),
    )
    scan = _covering_window_scan(F.col("n_terms"))
    windows = (
        tagged.groupBy("query_id", *gk, id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.array_sort(F.flatten(F.collect_list("_tagged"))).alias(
                "_merged"
            ),
        )
        .select(
            "query_id",
            *gk,
            id_col,
            "n_terms",
            scan.alias("_sc"),
        )
        .select(
            "query_id",
            *gk,
            id_col,
            "n_terms",
            F.col("_sc.best").alias("min_span"),
            F.col("_sc.bstart").alias("span_start"),
        )
    )
    out = hits
    if group_col:
        out = out.withColumn("_gk", _gkey(group_col))
    out = out.join(
        F.broadcast(
            windows.withColumnRenamed("query_id", query_id_col)
        ),
        [query_id_col, *gk, id_col],
        "left",
    )
    return out.drop("_gk") if group_col else out


def snippets(
    docs: DataFrame,
    hits: DataFrame,
    context: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    group_col: str | None = None,
) -> DataFrame:
    """Token-window snippets for retrieval hits — the display leg:
    join :func:`near_topk` or :func:`hit_windows` output (any table
    carrying ``id_col``, ``span_start``, ``min_span``; NULL windows —
    a :func:`hit_windows` row whose doc matched no query term — yield
    a NULL snippet) back to the documents and cut the
    matched window plus ``context`` tokens on each side, rejoined with
    single spaces. Output = the ``hits`` columns + ``snippet``.
    Snippets live in the ANALYZED token space (lowercased, parity
    tokenization) — byte-faithful to scoring, not to the original
    casing/whitespace; for display-faithful text, slice the raw
    document by your own offsets. The window clamps at both document
    edges. One broadcast-ready join on the doc id + a pure slice
    expression — hits tables are top-k-sized, so broadcast them
    against the corpus scan (done here automatically).
    ``group_col``: the grouped face — REQUIRED when the hits came from
    a grouped index whose doc ids are only unique within their group
    (both ``docs`` and ``hits`` carry the group; the join is on
    (group, id), NULL-safe); an id-only join would fan each hit across
    groups and cut snippets from the wrong group's document."""
    gb = [group_col] if group_col else []
    jk = (["_gk"] if group_col else []) + [id_col]
    toks = docs.select(
        F.col(id_col),
        *gb,
        search_terms(text_col, lowercase).alias("_toks"),
    )
    h = hits
    if group_col:
        toks = toks.withColumn("_gk", _gkey(group_col)).drop(group_col)
        h = h.withColumn("_gk", _gkey(group_col))
    start = F.greatest(
        F.lit(1), F.col("span_start") + F.lit(1) - F.lit(int(context))
    )
    length = (
        F.col("min_span")
        + F.lit(2 * int(context))
        - F.greatest(
            F.lit(0),
            F.lit(int(context)) - F.col("span_start"),
        )
    )
    out = toks.join(F.broadcast(h), jk).withColumn(
        "snippet",
        F.array_join(F.slice(F.col("_toks"), start, length), " "),
    ).drop("_toks")
    return out.drop("_gk") if group_col else out


def retrieval_metrics(
    ranking: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    grade_col: str | None = None,
) -> DataFrame:
    """Per-query ranking-quality metrics against a relevance-judgment
    table — the evaluation leg of the retrieval family (how you tune
    k1/b/weights/fusion): for each query in ``qrels``,

    - ``precision_k`` = relevant retrieved in top-k / k (cutoff
      convention: the denominator is k even when fewer docs returned),
    - ``recall_k``    = relevant retrieved in top-k / all relevant,
    - ``rr``          = 1/rank of the first relevant hit (0 if none) —
      average over queries for MRR,
    - ``ap_k``        = average precision at k: Σ_{relevant hit at
      rank i ≤ k} P@i / min(n_rel, k),
    - ``dcg_k`` / ``ndcg_k`` = (2^grade − 1)/log2(rank+1) gains
      (Järvelin & Kekäläinen 2002), normalized by the ideal DCG of the
      query's top-k grades — graded when ``grade_col`` is given,
      binary (grade 1) otherwise.

    ``ranking`` is a top-k table ((query, doc, rank) — any of
    :func:`bm25_topk` / :func:`bm25f_topk` / :func:`boolean_topk` /
    :func:`rrf_fuse` output); ``qrels`` carries (query, doc[, grade])
    judgments, grades ≤ 0 dropped, duplicate judgments resolved to the MAX grade.
    Queries present in ``qrels`` but retrieving nothing still get a
    row (all-zero metrics); queries only in ``ranking`` are dropped —
    unjudged queries are unmeasurable, by convention.

    Deterministic: every float fold (DCG, the AP numerator) quantizes
    per-term to decimal(28,7) before summing, so results are
    reduction-order-free and engine-reproducible; the ideal-DCG
    ordering breaks grade ties on ascending doc id. Scale shape: both
    inputs are evaluation-sized (k·|queries| and judgment rows); the
    only exchanges are per-query windows and aggregates over them —
    nothing corpus-sized anywhere."""
    rk = ranking.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("doc_id"),
        F.col(rank_col).cast("long").alias("rank"),
    ).filter(F.col("rank") <= int(k))
    if grade_col is None:
        qr = qrels.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            F.lit(1.0).alias("grade"),
        )
    else:
        qr = qrels.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            F.col(grade_col).cast("double").alias("grade"),
        ).filter(F.col("grade") > 0)
    # duplicate judgments (two assessors) resolve to the MAX grade —
    # a deterministic reduction, not a partitioning-dependent
    # keep-first (the determinism contract below)
    qr = qr.groupBy("query_id", "doc_id").agg(
        F.max("grade").alias("grade")
    )

    rel = F.col("grade").isNotNull()
    w = Window.partitionBy("query_id").orderBy("rank")
    gain = (F.pow(F.lit(2.0), F.col("grade")) - F.lit(1.0)) / F.log2(
        F.col("rank") + F.lit(1.0)
    )
    hits = rk.join(qr, ["query_id", "doc_id"], "left").withColumn(
        "_cum", F.sum(F.when(rel, 1).otherwise(0)).over(w)
    )
    got = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_ret"),
        F.sum(F.when(rel, 1).otherwise(0)).alias("rel_ret"),
        F.min(F.when(rel, F.col("rank"))).alias("_first_rel"),
        F.sum(
            F.when(rel, gain).cast(_CONTRIB_DECIMAL)
        ).alias("_dcg"),
        F.sum(
            F.when(
                rel, F.col("_cum").cast("double") / F.col("rank")
            ).cast(_CONTRIB_DECIMAL)
        ).alias("_ap_num"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("grade").desc(), F.col("doc_id").asc()
    )
    ideal = (
        qr.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= int(k))
        .groupBy("query_id")
        .agg(
            F.sum(
                (
                    (F.pow(F.lit(2.0), F.col("grade")) - F.lit(1.0))
                    / F.log2(F.col("_r") + F.lit(1.0))
                ).cast(_CONTRIB_DECIMAL)
            ).alias("_idcg")
        )
    )
    n_rel = qr.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    z = F.lit(0.0)
    return (
        n_rel.join(ideal, "query_id")
        .join(got, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce(F.col("n_ret"), F.lit(0)).alias("n_ret"),
            F.coalesce(F.col("rel_ret"), F.lit(0)).alias("rel_ret"),
            (
                F.coalesce(F.col("rel_ret"), F.lit(0))
                / F.lit(float(k))
            ).alias("precision_k"),
            (
                F.coalesce(F.col("rel_ret"), F.lit(0))
                / F.col("n_rel")
            ).alias("recall_k"),
            F.coalesce(
                F.lit(1.0) / F.col("_first_rel"), z
            ).alias("rr"),
            F.coalesce(
                F.col("_ap_num").cast("double")
                / F.least(F.col("n_rel"), F.lit(int(k))),
                z,
            ).alias("ap_k"),
            F.coalesce(F.col("_dcg").cast("double"), z).alias("dcg_k"),
            F.coalesce(
                F.col("_dcg").cast("double")
                / F.col("_idcg").cast("double"),
                z,
            ).alias("ndcg_k"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    rrf_k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of two or more per-query rankings
    (Cormack'09): fused score = Σ_i 1/(rrf_k + rank_i), summing only
    the lists the (query, doc) pair appears in.

    Each input needs (``query_col``, ``id_col``, ``rank_col``) — e.g.
    :func:`bm25_topk` output and ``brute_force_topk``/``ivf_topk``
    output (aliased to a common id). Inputs are top-k tables
    (k·|queries| rows), so the full outer joins are tiny; the fused
    score is a FIXED-ORDER expression over len(rankings) doubles (no
    float aggregation — reduction order cannot change it), and the
    fused rank breaks ties on ascending doc id. Output: (query_id,
    doc_id, rank_1..rank_n, rrf, rank).
    """
    if len(rankings) < 2:
        raise ValueError("rrf_fuse needs at least two rankings")
    fused = None
    for i, r in enumerate(rankings):
        ri = r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            F.col(rank_col).cast("long").alias(f"rank_{i + 1}"),
        )
        fused = (
            ri
            if fused is None
            else fused.join(ri, ["query_id", "doc_id"], "full_outer")
        )
    score = None
    for i in range(len(rankings)):
        c = F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"rank_{i + 1}")),
            F.lit(0.0),
        )
        score = c if score is None else score + c
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rrf", score)
        .withColumn("rank", F.row_number().over(w))
    )
