"""Lexical retrieval (X2): inverted index, BM25 top-k, RRF fusion."""

import math

import pytest
from pyspark.sql import Row, functions as F

from datamunging_spark.operators.retrieval import (
    advance_index,
    bm25_topk,
    combine_index_stats,
    index_stats,
    inverted_index,
    rrf_fuse,
    search_terms,
    stats_from_postings,
    term_stats,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="spark shuffles rows fast"),
            Row(doc_id=2, text="spark spark broadcast join"),
            Row(doc_id=3, text="zebra  stampede"),  # double space: 2 terms
            Row(doc_id=4, text=""),
        ]
    )


def test_inverted_index_tf_and_doc_len(spark):
    post = inverted_index(_docs(spark))
    rows = {(r.term, r.doc_id): (r.tf, r.doc_len) for r in post.collect()}
    assert rows[("spark", 1)] == (1, 4)
    assert rows[("spark", 2)] == (2, 4)
    assert rows[("zebra", 3)] == (1, 2)  # empty token dropped
    # unique per (term, doc); the empty doc contributes no postings
    assert len(rows) == post.count()
    assert not [k for k in rows if k[1] == 4]


def test_index_stats_counts_empty_docs(spark):
    n_docs, total_len, avgdl = index_stats(_docs(spark)).collect()[0]
    assert (n_docs, total_len) == (4, 10)
    assert avgdl == pytest.approx((4 + 4 + 2 + 0) / 4.0)


def test_bm25_planted_relevance_and_hand_score(spark):
    docs = _docs(spark)
    post, stats = inverted_index(docs), index_stats(docs)
    q = spark.createDataFrame([Row(query_id=0, query="zebra")])
    out = bm25_topk(post, q, stats, k=3).collect()
    # 'zebra' appears only in doc 3 → exactly one hit, rank 1
    assert [(r.doc_id, r.rank) for r in out] == [(3, 1)]
    idf = math.log(1.0 + (4 - 1 + 0.5) / (1 + 0.5))
    tfn = (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * (2 / 2.5)))
    assert out[0].bm25 == pytest.approx(idf * tfn, abs=1e-6)


def test_bm25_query_term_sets_and_unseen_terms(spark):
    docs = _docs(spark)
    post, stats = inverted_index(docs), index_stats(docs)
    q = spark.createDataFrame(
        [
            Row(query_id=0, query="zebra zebra zebra"),  # qtf ignored
            Row(query_id=1, query="zebra"),
            Row(query_id=2, query="quux xyzzy"),  # nothing matches
        ]
    )
    out = bm25_topk(post, q, stats, k=3)
    scores = {(r.query_id, r.doc_id): r.bm25 for r in out.collect()}
    assert set(scores) == {(0, 3), (1, 3)}
    assert scores[(0, 3)] == scores[(1, 3)]


def test_bm25_matches_duckdb_and_precomputed_dfreq(spark):
    import duckdb

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    post, stats = inverted_index(docs), index_stats(docs)
    # doc-prefix queries plus a repeated term, an absent term and an
    # all-empty query (no rows) in the same batch
    qrows = [
        (r.doc_id, r.text[:40])
        for r in docs.filter(F.col("doc_id") < 3).collect()
    ] + [(100, "join JOIN join spark"), (101, "xyzzy spark"), (102, " ")]
    queries = spark.createDataFrame(qrows, "query_id long, query string")
    out = bm25_topk(post, queries, stats, k=5)
    got = sorted(
        (r.query_id, r.doc_id, r.rank, round(r.bm25, 6))
        for r in out.collect()
    )
    # the 100 TB path (df from the index-build term_stats table) is
    # byte-identical to the on-the-fly derivation
    pre = bm25_topk(post, queries, stats, k=5, dfreq=term_stats(post))
    assert (
        sorted(
            (r.query_id, r.doc_id, r.rank, round(r.bm25, 6))
            for r in pre.collect()
        )
        == got
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * "
        f"FROM '{SF}/documents.parquet'"
    )
    con.sql("CREATE TABLE queries (query_id BIGINT, query VARCHAR)")
    con.executemany("INSERT INTO queries VALUES (?, ?)", qrows)
    want = sorted(
        (qid, did, rank, round(s, 6))
        for qid, did, rank, s in con.sql(
            """
            WITH terms AS (
              SELECT doc_id,
                     unnest(list_filter(string_split(lower(text), ' '),
                                        x -> x != '')) AS term
              FROM documents
            ), post AS (
              SELECT term, doc_id, count(*) AS tf
              FROM terms GROUP BY term, doc_id
            ), dl AS (
              SELECT doc_id, count(*) AS doc_len FROM terms GROUP BY doc_id
            ), stats AS (
              SELECT count(*) AS n_docs,
                     CAST(sum(len(list_filter(string_split(lower(text), ' '),
                                              x -> x != ''))) AS DOUBLE)
                       / count(*) AS avgdl
              FROM documents
            ), qt AS (
              SELECT DISTINCT query_id,
                     unnest(list_filter(
                         string_split(lower(query), ' '),
                         x -> x != '')) AS term
              FROM queries
            ), dfreq AS (
              SELECT term, count(*) AS df FROM post
              WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term
            ), per_doc AS (
              SELECT qt.query_id, post.doc_id,
                     sum(CAST(
                       ln(1.0 + (stats.n_docs - dfreq.df + 0.5)
                                / (dfreq.df + 0.5))
                       * ((post.tf * 2.2)
                          / (post.tf + 1.2 * (0.25 + 0.75 *
                               (dl.doc_len / stats.avgdl))))
                       AS DECIMAL(28,7))) AS s
              FROM post
              JOIN qt USING (term) JOIN dfreq USING (term)
              JOIN dl ON dl.doc_id = post.doc_id
              CROSS JOIN stats
              GROUP BY qt.query_id, post.doc_id
            )
            SELECT query_id, doc_id, rank, CAST(s AS DOUBLE) FROM (
              SELECT query_id, doc_id, s,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY s DESC, doc_id) AS rank
              FROM per_doc
            ) WHERE rank <= 5
            """
        ).fetchall()
    )
    assert got == want
    answered = {g[0] for g in got}
    assert {100, 101} <= answered and 102 not in answered


def _py_bm25(docs, queries, k, max_df_frac=None, boosts=None,
             allowed=None, grouped=False, k1=1.2, b=0.75):
    """Pure-Python BM25 reference over raw (doc_id, group, text) rows
    and (query_id, group, query) rows: per-corpus (per-group when
    ``grouped``) N/avgdl/df, term SETS, the stopword valve, MAX of
    duplicate boosts, a filter that cuts candidates but not stats, and
    per-term contributions rounded half-up to 7 decimals before the
    sum (the decimal(28,7) contract). Returns sorted (query_id,
    doc_id, rank, score)."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def toks(t):
        return [w for w in (t or "").lower().split(" ") if w]

    corp = {}
    for did, g, text in docs:
        corp.setdefault(g if grouped else None, []).append((did, toks(text)))
    bmax = {}
    for qid, term, bst in boosts or []:
        bmax[(qid, term)] = max(bst, bmax.get((qid, term), bst))
    out = []
    for qid, g, text in queries:
        key = g if grouped else None
        rows = corp.get(key, [])
        n = len(rows)
        avgdl = sum(len(t) for _, t in rows) / max(n, 1)
        df = Counter()
        for _, t in rows:
            df.update(set(t))
        terms = {t for t in toks(text) if df[t]}
        if max_df_frac is not None:
            terms = {t for t in terms if df[t] <= max_df_frac * n}
        scores = {}
        for did, t in rows:
            if allowed is not None and (key, did) not in allowed:
                continue
            tf = Counter(t)
            hits = [w for w in terms if tf[w]]
            if not hits:
                continue
            total = Decimal(0)
            for w in hits:
                idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
                tfn = (tf[w] * (k1 + 1.0)) / (
                    tf[w] + k1 * ((1.0 - b) + b * (len(t) / avgdl))
                )
                c = idf * tfn * bmax.get((qid, w), 1.0)
                total += Decimal(repr(c)).quantize(
                    Decimal("1e-7"), ROUND_HALF_UP
                )
            scores[did] = total
        ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        out += [
            (qid, did, i + 1, float(sc))
            for i, (did, sc) in enumerate(ranked)
        ]
    return sorted(out)


def _parity_corpus(spark):
    """The sf0.001 documents grouped by ``lang`` plus planted rows: two
    identical docs (a score tie that must break on doc id), one empty
    doc, and a NULL-group doc."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    planted = spark.createDataFrame(
        [
            (10002, "en", "quux quux spark"),
            (10001, "en", "quux quux spark"),
            (10003, "en", ""),
            (10004, None, "quux spark rows"),
        ],
        "doc_id long, lang string, text string",
    )
    return docs.unionByName(planted)


@pytest.mark.parametrize(
    "face",
    ["plain", "dfreq", "valve", "valve_dfreq", "boosts", "filter",
     "grouped", "grouped_all"],
)
def test_bm25_faces_match_python_reference(spark, face):
    """Every bm25_topk face against the pure-Python reference at 1e-6,
    on one multi-query batch carrying a repeated term, a term absent
    from the corpus, two all-empty queries (no rows), a planted score
    tie (breaks on ascending doc id) and a hot term for the valve."""
    corpus = _parity_corpus(spark)
    raw = [(r.doc_id, r.lang, r.text) for r in corpus.collect()]
    qrows = [
        (0, "en", raw[0][2][:40]),
        (1, "en", "spark SPARK spark"),
        (2, "en", "quux"),
        (3, "fr", "xyzzy plugh"),
        (4, "fr", ""),
        (5, "de", "   "),
        (6, "de", "the join quux nosuch"),
        (7, None, "quux rows"),
    ]
    queries = spark.createDataFrame(
        qrows, "query_id long, lang string, query string"
    )
    grouped = face.startswith("grouped")
    gc = "lang" if grouped else None
    post = inverted_index(corpus, group_col=gc)
    stats = index_stats(corpus, group_col=gc)
    kw, ref = {}, {}
    if face in ("dfreq", "valve_dfreq", "grouped_all"):
        kw["dfreq"] = term_stats(post, group_col=gc)
    if face.startswith("valve") or face == "grouped_all":
        kw["max_df_frac"] = ref["max_df_frac"] = 0.3
    if face in ("boosts", "grouped_all"):
        boosts = [(1, "spark", 2.0), (6, "join", 0.5), (6, "join", 0.7),
                  (2, "quux", 1.5), (0, "absent", 3.0)]
        kw["term_boosts"] = spark.createDataFrame(
            boosts, "query_id long, term string, boost double"
        )
        ref["boosts"] = boosts
    if face in ("filter", "grouped_all"):
        keep = [(g, d) for d, g, _ in raw if d % 3 == 0 or d == 10002]
        ref["allowed"] = set(keep) if grouped else {(None, d) for _, d in keep}
        kw["filter_ids"] = (
            spark.createDataFrame(keep, "lang string, doc_id long")
            if grouped
            else spark.createDataFrame([(d,) for _, d in keep], "doc_id long")
        )
    out = bm25_topk(post, queries, stats, k=4, group_col=gc, **kw)
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25) for r in out.collect()
    )
    want = _py_bm25(raw, qrows, 4, grouped=grouped, **ref)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert [g[3] for g in got] == pytest.approx(
        [w[3] for w in want], abs=1e-6
    )
    qids = {g[0] for g in got}
    assert not qids & {3, 4, 5}  # absent / all-empty queries: no rows
    if face in ("plain", "dfreq"):
        # the planted tie: equal scores, ascending doc id
        tie = [g for g in got if g[0] == 2][:2]
        assert [t[1] for t in tie] == [10001, 10002]
        assert tie[0][3] == tie[1][3]


def test_bm25_deterministic_under_repartition(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    queries = docs.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 30).alias("query"),
    )

    def run(d):
        return sorted(
            (r.query_id, r.doc_id, r.rank, r.bm25)
            for r in bm25_topk(
                inverted_index(d), queries, index_stats(d), k=7
            ).collect()
        )

    assert run(docs) == run(docs.repartition(13))


def test_bm25_query_time_never_shuffles_on_term(spark, tmp_path):
    """With the index-build artifacts precomputed (postings + term df +
    stats — the 100 TB configuration), the query plan's exchanges are
    only the (query, doc) score aggregate and the per-query window:
    nothing repartitions by term, and the query terms reach the
    postings scan as a pushed ``In(term, ...)`` filter."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    inverted_index(docs).write.mode("overwrite").parquet(
        str(tmp_path / "post")
    )
    post = spark.read.parquet(str(tmp_path / "post"))
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 40).alias("query"),
    )
    out = bm25_topk(
        post, queries, index_stats(docs), k=5, dfreq=term_stats(post)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert "term" not in keys, plan
    # query terms the index knows (substring cuts leave partial words
    # that match nothing and never reach the scan)
    qterms = {
        t
        for r in queries.select(search_terms("query")).collect()
        for t in r[0]
    }
    terms = sorted(
        r.term
        for r in term_stats(post).filter(F.col("term").isin(qterms)).collect()
    )
    pushed = [
        ln for ln in plan.splitlines() if ln.startswith("PushedFilters")
    ]
    assert pushed == [
        f"PushedFilters: [In(term, [{','.join(terms)}])]"
    ], plan


def _jobs_of(spark, fn, group):
    """Spark jobs started by ``fn()``, counted under one job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


#: Spark jobs of one single-query request, call plus result collect:
#: one collect of the query batch, the df/stats scalar collect (BM25,
#: boolean and BM25F), the aggregate and window shuffle stages (one job
#: each under AQE; IVF has no aggregate, BM25F has two) and the result.
SEARCH_JOB_BUDGET = {
    "bm25": 5, "phrase": 4, "ivf": 3, "boolean": 5, "bm25f": 6, "near": 4,
}


@pytest.fixture(scope="module")
def lexical_art(spark, tmp_path_factory):
    """Materialized index-build artifacts, the serving configuration:
    a positional index and a title/body fielded index written to
    parquet, with their stats and df tables pinned."""
    from datamunging_spark.operators.retrieval import (
        field_stats,
        fielded_index,
        fielded_term_stats,
    )

    tmp_path = tmp_path_factory.mktemp("lexical")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tb = docs.select(
        "doc_id",
        F.substring("text", 1, 25).alias("title"),
        F.col("text").alias("body"),
    )
    inverted_index(docs, positions=True).write.parquet(
        str(tmp_path / "post")
    )
    fielded_index(tb, ["title", "body"]).write.parquet(
        str(tmp_path / "fpost")
    )
    post = spark.read.parquet(str(tmp_path / "post"))
    fpost = spark.read.parquet(str(tmp_path / "fpost"))
    return {
        "post": post,
        "stats": index_stats(docs).localCheckpoint(),
        "dfreq": term_stats(post).localCheckpoint(),
        "fpost": fpost,
        "fstats": field_stats(tb, ["title", "body"]).localCheckpoint(),
        "fdfreq": fielded_term_stats(fpost).localCheckpoint(),
    }


def _lexical_request(spark, art, face):
    """One single-query request of a lexical face, its query batch
    built the way a serving client builds it: boolean and BM25F with
    their ``dfreq`` tables, near with the hot-term guard off."""
    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        boolean_topk,
        near_topk,
        phrase_topk,
    )

    def q(text):
        return spark.createDataFrame(
            [(0, text)], "query_id long, query string"
        )

    if face == "bm25":
        return bm25_topk(
            art["post"], q("spark join window"), art["stats"], k=10,
            dfreq=art["dfreq"],
        )
    if face == "phrase":
        return phrase_topk(art["post"], q("batch batch"), k=10)
    if face == "boolean":
        return boolean_topk(
            art["post"],
            spark.createDataFrame(
                [(0, "spark", "join window", "hash")],
                "query_id long, must string, should string, "
                "must_not string",
            ),
            art["stats"], k=10, dfreq=art["dfreq"],
        )
    if face == "bm25f":
        return bm25f_topk(
            art["fpost"], q("spark join window"), art["fstats"],
            weights={"title": 2.5, "body": 1.0}, k=10,
            dfreq=art["fdfreq"],
        )
    assert face == "near"
    return near_topk(art["post"], q("spark join"), k=10, slop=2)


def test_search_request_job_budget(spark, lexical_art):
    """A job-count regression on the search request path fails here:
    each operator is called once on a materialized index with a
    one-row query batch built the way a serving client builds it, and
    its jobs (the call's collects plus the result collect) must stay
    within ``SEARCH_JOB_BUDGET``."""
    from datamunging_spark.operators.similarity import ivf_build, ivf_search

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = ivf_build(emb, n_clusters=8)
    idx.assigned = idx.assigned.localCheckpoint()
    vec = [float(v) for v in emb.first().embedding]

    jobs = {
        face: _jobs_of(
            spark,
            lambda: _lexical_request(spark, lexical_art, face).collect(),
            f"budget-{face}",
        )
        for face in ("bm25", "phrase", "boolean", "bm25f", "near")
    }
    jobs["ivf"] = _jobs_of(spark, lambda: ivf_search(
        spark.createDataFrame(
            [(-1, vec)], "vec_id long, embedding array<float>"
        ),
        idx, k=10, n_probe=4,
    ).collect(), "budget-ivf")
    over = {
        op: (n, SEARCH_JOB_BUDGET[op])
        for op, n in jobs.items()
        if n > SEARCH_JOB_BUDGET[op]
    }
    assert not over, f"jobs over budget (got, budget): {over}"


@pytest.mark.parametrize(
    "face,pushed",
    [
        ("boolean", "In(term, [hash,join,spark,window])"),
        (
            "bm25f",
            "In(term, [join,spark,window]), In(field, [body,title])",
        ),
        ("near", "In(term, [join,spark])"),
    ],
    ids=["boolean", "bm25f", "near"],
)
def test_lexical_faces_answer_with_one_pushed_scan(
    spark, lexical_art, face, pushed
):
    """boolean, BM25F and near ride the literal query plan: the query
    terms reach the one postings scan as a pushed ``In(term, ...)``
    filter (BM25F also pushes its weights' field cut), nothing is
    broadcast, and every exchange is keyed by the query — the (query,
    doc) aggregate (BM25F's per-term fold adds the term AFTER query and
    doc) and the per-query window — so nothing repartitions the
    postings by term."""
    import contextlib
    import io

    out = _lexical_request(spark, lexical_art, face)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" not in plan, plan
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert keys.startswith("query_id#"), plan
        if face != "bm25f":
            assert "term" not in keys, plan
    assert [
        ln for ln in plan.splitlines() if ln.startswith("PushedFilters")
    ] == [f"PushedFilters: [{pushed}]"], plan


def test_rrf_fuse_hand_math_and_outer_union(spark):
    a = spark.createDataFrame(
        [Row(query_id=0, doc_id=10, rank=1), Row(query_id=0, doc_id=11, rank=2)]
    )
    b = spark.createDataFrame(
        [Row(query_id=0, doc_id=11, rank=1), Row(query_id=0, doc_id=12, rank=2)]
    )
    out = {r.doc_id: r for r in rrf_fuse([a, b], rrf_k=60).collect()}
    assert set(out) == {10, 11, 12}
    assert out[11].rrf == pytest.approx(1 / 62 + 1 / 61)
    assert out[10].rrf == pytest.approx(1 / 61)
    assert out[12].rrf == pytest.approx(1 / 62)
    assert [out[11].rank, out[10].rank, out[12].rank] == [1, 2, 3]
    assert (out[10].rank_1, out[10].rank_2) == (1, None)
    with pytest.raises(ValueError, match="at least two"):
        rrf_fuse([a])


def test_rrf_fuse_tie_breaks_on_doc_id(spark):
    a = spark.createDataFrame(
        [Row(query_id=0, doc_id=20, rank=1), Row(query_id=0, doc_id=5, rank=1)]
    )
    b = spark.createDataFrame(
        [Row(query_id=0, doc_id=5, rank=2), Row(query_id=0, doc_id=20, rank=2)]
    )
    got = [(r.doc_id, r.rank) for r in
           rrf_fuse([a, b]).orderBy("rank").collect()]
    assert got == [(5, 1), (20, 2)]


def test_retrieval_empty_inputs(spark):
    docs = _docs(spark)
    post, stats = inverted_index(docs), index_stats(docs)
    no_q = spark.createDataFrame([], "query_id long, query string")
    assert bm25_topk(post, no_q, stats, k=3).count() == 0
    no_docs = spark.createDataFrame([], "doc_id long, text string")
    assert inverted_index(no_docs).count() == 0
    n_docs, total_len, avgdl = index_stats(no_docs).collect()[0]
    assert (n_docs, total_len, avgdl) == (0, 0, None)


def test_advance_index_append_equals_full_rebuild(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hist, batch = docs.filter("doc_id < 400"), docs.filter("doc_id >= 400")
    rolled = advance_index(inverted_index(hist), batch)
    full = inverted_index(docs)
    assert sorted(map(tuple, rolled.collect())) == sorted(
        map(tuple, full.collect())
    )
    # merged stats are bit-identical to full-corpus stats (exact longs)
    merged = combine_index_stats(index_stats(hist), index_stats(batch))
    assert merged.collect() == index_stats(docs).collect()


def test_advance_index_replace_ids_drops_stale_postings(spark):
    docs = _docs(spark)
    updated = spark.createDataFrame(
        [Row(doc_id=1, text="rewritten entirely"), Row(doc_id=9, text="new doc")]
    )
    rolled = advance_index(inverted_index(docs), updated, replace_ids=True)
    terms_for_1 = {r.term for r in rolled.filter("doc_id = 1").collect()}
    assert terms_for_1 == {"rewritten", "entirely"}  # no stale 'spark' rows
    assert rolled.filter("doc_id = 9").count() == 2
    # equals a full rebuild of the post-update corpus
    after = docs.filter("doc_id != 1").unionByName(updated)
    assert sorted(map(tuple, rolled.collect())) == sorted(
        map(tuple, inverted_index(after).collect())
    )


def test_combine_index_stats_empty_identity(spark):
    docs = _docs(spark)
    empty = spark.createDataFrame([], "doc_id long, text string")
    got = combine_index_stats(index_stats(docs), index_stats(empty)).collect()
    assert got == index_stats(docs).collect()


def test_stats_from_postings_matches_index_stats_minus_empty(spark):
    docs = _docs(spark)
    post = inverted_index(docs)
    n_docs, total_len, avgdl = stats_from_postings(post).collect()[0]
    # the empty doc is invisible to the index: 3 searchable docs
    assert (n_docs, total_len) == (3, 10)
    assert avgdl == pytest.approx(10 / 3)


@pytest.mark.slow
def test_streaming_index_ingest_folds_and_replaces(spark, tmp_path):
    """Three micro-batches (the third UPDATES a doc from the first) fold
    into a versioned postings table that equals a full rebuild of the
    final corpus; replaying the last batch against the committed store
    is the identity (replace_ids replay algebra)."""
    from datamunging_spark.sources.versioned import read_table_version
    from datamunging_spark.streaming import (
        read_index_version,
        streaming_index_ingest,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    table = str(tmp_path / "postings_store")
    ckpt = str(tmp_path / "idx_ckpt")
    schema = "doc_id long, text string"
    b1 = [(1, "spark rows fast"), (2, "broadcast join")]
    b2 = [(3, "zebra stampede")]
    b3 = [(1, "rewritten doc one"), (4, "windowed agg")]
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    v = streaming_index_ingest(stream, table, checkpoint_path=ckpt)
    assert v == 3
    got = sorted(map(tuple, read_index_version(spark, table).collect()))
    final = spark.createDataFrame(
        [(2, "broadcast join"), (3, "zebra stampede"),
         (1, "rewritten doc one"), (4, "windowed agg")], schema
    )
    assert got == sorted(map(tuple, inverted_index(final).collect()))
    # replay algebra: re-folding the last batch is the identity
    from datamunging_spark.operators.retrieval import advance_index

    replayed = advance_index(
        read_index_version(spark, table),
        spark.createDataFrame(b3, schema),
        replace_ids=True,
    )
    assert sorted(map(tuple, replayed.collect())) == got
    # the committed store is queryable end to end
    q = spark.createDataFrame([(0, "zebra")], "query_id long, query string")
    hits = bm25_topk(
        read_index_version(spark, table),
        q,
        stats_from_postings(read_index_version(spark, table)),
        k=3,
    ).collect()
    assert [(r.doc_id, r.rank) for r in hits] == [(3, 1)]
    # the stats store rode the fold: every retained version upholds
    # stats == stats_from_postings(postings) — incl. across the
    # replace fold — so query-time stats are O(1), no index rescan
    from datamunging_spark.sources.versioned import list_table_versions

    svs = list_table_versions(spark, table + "_stats")
    assert svs == list_table_versions(spark, table)
    # latest version upholds the invariant (with the default keep_last=2
    # the older retained delta's base is vacuumed — per-version checks
    # live in test_streaming_index_delta_log_and_compaction)
    assert (
        read_table_version(spark, table + "_stats", svs[-1]).collect()
        == stats_from_postings(
            read_index_version(spark, table, svs[-1])
        ).collect()
    )
    fast = bm25_topk(
        read_index_version(spark, table),
        q,
        read_table_version(spark, table + "_stats"),
        k=3,
    ).collect()
    assert [(r.doc_id, r.rank, r.bm25) for r in fast] == [
        (r.doc_id, r.rank, r.bm25) for r in hits
    ]


@pytest.mark.slow
def test_streaming_index_delta_log_and_compaction(spark, tmp_path):
    """The index store is a delta log: with base_every=3 (< keep_last,
    so cadence = 3) the first fold writes a full base, the next two
    write batch-sized deltas, the fourth compacts a fresh base, the
    fifth is a delta again. Every committed version reconstructs to
    the full rebuild of its point-in-time corpus, the delta chain
    replays the replace fold (including a delete-via-empty-text), and
    the versioned stats invariant holds throughout."""
    from datamunging_spark.sources.versioned import (
        DeltaLog,
        list_table_versions,
        read_table_version,
    )
    from datamunging_spark.streaming import (
        read_index_version,
        streaming_index_ingest,
    )

    src = tmp_path / "docs_src"
    src.mkdir()
    table = str(tmp_path / "idx_store")
    ckpt = str(tmp_path / "idx_ckpt")
    schema = "doc_id long, text string"
    batches = [
        [(1, "spark rows fast"), (2, "broadcast join")],
        [(3, "zebra stampede")],
        [(1, "rewritten doc one")],          # replace inside a delta
        [(4, "windowed agg plan")],
        [(2, ""), (5, "late arrival doc")],  # delete via empty + add
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    v = streaming_index_ingest(
        stream, table, checkpoint_path=ckpt, keep_last=5, base_every=3
    )
    assert v == 5
    kinds = {
        n: DeltaLog(table).kind(spark, n)
        for n in list_table_versions(spark, table)
    }
    assert kinds == {
        1: "base", 2: "delta", 3: "delta", 4: "base", 5: "delta"
    }

    def corpus_after(n):
        docs: dict = {}
        for rows in batches[:n]:
            for i, t in rows:
                docs[i] = t
        return spark.createDataFrame(
            [(i, t) for i, t in docs.items()], schema
        )

    for n in (1, 2, 3, 4, 5):
        got = sorted(
            map(tuple, read_index_version(spark, table, n).collect())
        )
        want = sorted(
            map(tuple, inverted_index(corpus_after(n)).collect())
        )
        assert got == want, f"version {n}"
        st = read_table_version(spark, f"{table}_stats", n).collect()
        assert st == stats_from_postings(
            read_index_version(spark, table, n)
        ).collect(), f"stats v{n}"
    # the delete landed: doc 2 is gone from the final index
    assert read_index_version(spark, table).filter(
        "doc_id = 2"
    ).count() == 0


def test_bm25_max_df_frac_stopword_valve(spark):
    docs = _docs(spark)
    post, stats = inverted_index(docs), index_stats(docs)
    q = spark.createDataFrame(
        [Row(query_id=0, query="spark zebra"), Row(query_id=1, query="zebra")]
    )
    # 'spark' df=2/4 docs > 0.4 → dropped; query 0 degrades to 'zebra'
    out = bm25_topk(post, q, stats, k=4, max_df_frac=0.4)
    scores = {(r.query_id, r.doc_id): r.bm25 for r in out.collect()}
    assert set(scores) == {(0, 3), (1, 3)}
    assert scores[(0, 3)] == scores[(1, 3)]
    # precomputed-df path (prunes before the postings join) agrees
    pre = bm25_topk(
        post, q, stats, k=4, dfreq=term_stats(post), max_df_frac=0.4
    )
    assert {
        (r.query_id, r.doc_id): r.bm25 for r in pre.collect()
    } == scores
    # valve off: 'spark' contributes again and doc ranks change
    full = bm25_topk(post, q, stats, k=4)
    assert full.filter("query_id = 0").count() == 3  # docs 1, 2, 3


def test_streaming_index_ingest_within_batch_collision(spark, tmp_path):
    """Two rows for one doc id inside a single micro-batch fail fast by
    default (they would corrupt the (term, doc) grain); with
    version_col the batch resolves last-wins deterministically."""
    from datamunging_spark.sources.versioned import read_table_version
    from datamunging_spark.streaming import streaming_index_ingest

    schema = "doc_id long, text string, ver long"
    rows = [(1, "old text", 1), (1, "new text", 2), (2, "other doc", 1)]

    def drain(name, **kw):
        src = tmp_path / f"{name}_src"
        src.mkdir()
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / "f0")
        )
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        return streaming_index_ingest(
            stream,
            str(tmp_path / f"{name}_tbl"),
            checkpoint_path=str(tmp_path / f"{name}_ckpt"),
            **kw,
        )

    from pyspark.errors import StreamingQueryException

    with pytest.raises(
        StreamingQueryException, match="within-batch collisions"
    ):
        drain("collide")

    assert drain("versioned", version_col="ver") == 1
    post = read_table_version(spark, str(tmp_path / "versioned_tbl"))
    terms_for_1 = {r.term for r in post.filter("doc_id = 1").collect()}
    assert terms_for_1 == {"new", "text"}  # ver=2 won; ver=1 gone
    assert post.filter("doc_id = 2").count() == 2


def test_phrase_topk_planted_and_duplicate_terms(spark):
    from datamunging_spark.operators.retrieval import phrase_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the red fox jumps red fox again"),
            Row(doc_id=2, text="fox red the jumps"),  # reversed: no match
            Row(doc_id=3, text="red red red"),
            Row(doc_id=4, text="red only"),
        ]
    )
    post = inverted_index(docs, positions=True)
    q = spark.createDataFrame(
        [
            Row(query_id=0, query="red fox"),
            Row(query_id=1, query="red red"),  # duplicate-term phrase
            Row(query_id=2, query="red"),      # single term == tf
            Row(query_id=3, query="red wolf"),  # missing term: no rows
        ]
    )
    out = phrase_topk(post, q, k=5)
    got = {(r.query_id, r.doc_id): (r.rank, r.phrase_freq)
           for r in out.collect()}
    assert got[(0, 1)] == (1, 2)          # "red fox" twice in doc 1
    assert (0, 2) not in got              # reversed order rejected
    assert got[(1, 3)] == (1, 2)          # "red red" at starts 0,1
    assert (1, 1) not in got              # "red ... red" not adjacent
    assert got[(2, 3)] == (1, 3)          # single term: freq == tf
    assert got[(2, 1)] == (2, 2)
    assert not [k_ for k_ in got if k_[0] == 3]
    with pytest.raises(ValueError, match="positional"):
        phrase_topk(inverted_index(docs), q)


def _py_phrase(rows, phrases, k, allowed=None, grouped=False):
    """Pure-Python phrase reference: (query_id, doc_id, rank, freq) by
    sliding-window token match over (doc_id, group, text) rows, per
    group when ``grouped``; ``allowed`` holds (group or None, doc_id)
    keys. An all-empty phrase matches nothing."""
    out = []
    for qid, g, ph in phrases:
        terms = [w for w in ph.lower().split(" ") if w]
        scored = []
        for did, dg, text in rows:
            key = dg if grouped else None
            if not terms or (grouped and dg != g):
                continue
            if allowed is not None and (key, did) not in allowed:
                continue
            toks = [w for w in text.lower().split(" ") if w]
            freq = sum(
                1
                for p in range(len(toks) - len(terms) + 1)
                if toks[p:p + len(terms)] == terms
            )
            if freq:
                scored.append((did, freq))
        scored.sort(key=lambda x: (-x[1], x[0]))
        out += [
            (qid, did, r + 1, f) for r, (did, f) in enumerate(scored[:k])
        ]
    return sorted(out)


def test_phrase_topk_matches_python_reference_and_repartition(spark):
    from datamunging_spark.operators.retrieval import phrase_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = [(r.doc_id, r.lang, r.text) for r in docs.collect()]
    # phrases drawn from real doc prefixes so matches exist, plus a
    # repeated-term phrase ("a a": repeated offsets), a case-folded
    # one, an absent term, a single term (ties break on doc id) and
    # an all-empty phrase (no rows)
    phrases = [(i, g, " ".join(t.split(" ")[:2])) for i, g, t in rows[:3]]
    phrases += [
        (100, "en", "batch batch"),
        (101, "en", "Batch BATCH batch"),
        (102, "fr", "spark nosuch"),
        (103, "de", "spark"),
        (104, "en", "  "),
    ]
    q = spark.createDataFrame(
        phrases, "query_id long, lang string, query string"
    )

    def run(d, **kw):
        return sorted(
            (r.query_id, r.doc_id, r.rank, r.phrase_freq)
            for r in phrase_topk(
                inverted_index(
                    d, positions=True, group_col=kw.get("group_col")
                ),
                q, k=5, **kw,
            ).collect()
        )

    want = _py_phrase(rows, phrases, 5)
    assert {w[0] for w in want} >= {100, 101, 103}
    assert not {w[0] for w in want} & {102, 104}
    assert run(docs) == want
    assert run(docs.repartition(17)) == want
    # the grouped and filtered faces on the same batch
    keep = [(g, d) for d, g, _ in rows if d % 2 == 0]
    assert run(docs, group_col="lang") == _py_phrase(
        rows, phrases, 5, grouped=True
    )
    assert run(
        docs,
        filter_ids=spark.createDataFrame(
            [(d,) for _, d in keep], "doc_id long"
        ),
    ) == _py_phrase(rows, phrases, 5, allowed={(None, d) for _, d in keep})
    assert run(
        docs,
        group_col="lang",
        filter_ids=spark.createDataFrame(keep, "lang string, doc_id long"),
    ) == _py_phrase(rows, phrases, 5, allowed=set(keep), grouped=True)


def test_boolean_topk_must_should_not(spark):
    from datamunging_spark.operators.retrieval import boolean_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark shuffle broadcast join"),
            Row(doc_id=2, text="spark shuffle window"),
            Row(doc_id=3, text="spark broadcast legacy"),
            Row(doc_id=4, text="shuffle broadcast join"),
            Row(doc_id=5, text="unrelated words here"),
        ]
    )
    post, stats = inverted_index(docs), index_stats(docs)
    q = spark.createDataFrame(
        [
            # must both spark+shuffle, boost join, exclude window
            Row(query_id=0, must="spark shuffle", should="join",
                must_not="window"),
            # no must: >=1 should required
            Row(query_id=1, must=None, should="legacy join",
                must_not=""),
            # must term absent from corpus: strict AND -> no rows
            Row(query_id=2, must="spark quux", should="", must_not=""),
        ]
    )
    out = boolean_topk(post, q, stats, k=5)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.query_id, []).append(r)
    # q0: doc 2 excluded (window), doc 3/4 fail must, doc 1 survives
    assert [(r.doc_id, r.n_must, r.n_should) for r in by_q[0]] == [
        (1, 2, 1)
    ]
    # q1: docs containing legacy or join: 1, 3, 4 (no must constraint)
    assert sorted(r.doc_id for r in by_q[1]) == [1, 3, 4]
    assert 2 not in by_q
    # the should ('join') boost must rank doc 1 above doc 2 when the
    # exclusion is lifted
    q2 = spark.createDataFrame(
        [Row(query_id=9, must="spark shuffle", should="join",
             must_not="")]
    )
    ranked = boolean_topk(post, q2, stats, k=5).orderBy("rank").collect()
    assert [r.doc_id for r in ranked] == [1, 2]
    assert ranked[0].bm25 > ranked[1].bm25


def test_boolean_topk_matches_python_reference(spark):
    """Engine boolean+BM25 == a pure-Python reference (same decimal
    quantization discipline as the BM25 property test) on real corpus
    data, including the overlap rule (a term in must AND should scores
    once) and the strict unseen-must behavior."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from datamunging_spark.operators.retrieval import boolean_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    toks = {i: [w for w in t.lower().split(" ") if w] for i, t in rows}
    n_docs = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    df: dict = {}
    for ws in toks.values():
        for w in set(ws):
            df[w] = df.get(w, 0) + 1

    qdefs = [
        (0, "table row", "scan table", "merge"),   # overlap: 'table'
        (1, None, "spark window", "the"),
        (2, "row", "", None),
    ]
    k1, b, k, q7 = 1.2, 0.75, 6, Decimal("0.0000001")
    want = []
    for qid, must, should, must_not in qdefs:
        m = {w for w in (must or "").lower().split(" ") if w}
        s = {w for w in (should or "").lower().split(" ") if w}
        x = {w for w in (must_not or "").lower().split(" ") if w}
        scored = []
        for did, ws in toks.items():
            wset = set(ws)
            if x & wset:
                continue
            if m:
                if not m <= wset:
                    continue
            elif not (s & wset):
                continue
            total = Decimal(0)
            nm = ns = 0
            for term in (m | s) & wset:
                idf = math.log(
                    1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5)
                )
                tf = ws.count(term)
                tfn = (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * (len(ws) / avgdl))
                )
                total += Decimal(repr(idf * tfn)).quantize(
                    q7, ROUND_HALF_UP
                )
                nm += term in m
                ns += term in s
            scored.append((did, nm, ns, total))
        scored.sort(key=lambda t: (-t[3], t[0]))
        want += [
            (qid, did, r + 1, nm, ns, float(t))
            for r, (did, nm, ns, t) in enumerate(scored[:k])
        ]

    q = spark.createDataFrame(
        qdefs, "query_id long, must string, should string, must_not string"
    )
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.n_must, r.n_should, r.bm25)
        for r in boolean_topk(
            inverted_index(docs), q, index_stats(docs), k=k
        ).collect()
    )
    assert got == sorted(want)


@pytest.mark.slow
def test_boolean_topk_valve_and_dfreq_paths(spark):
    """max_df_frac treats hot terms as stopwords in ALL THREE roles
    (the Lucene stop-filter analogy): a hot must term is no longer
    required, a hot must_not term no longer excludes — and the
    precomputed-dfreq path (which prunes hot terms BEFORE the postings
    join) agrees byte-for-byte with the on-the-fly path. Unseen terms
    are never valved (absence is not hotness)."""
    from datamunging_spark.operators.retrieval import boolean_topk

    docs = _docs(spark)
    post, stats = inverted_index(docs), index_stats(docs)
    # 'spark' df=2/4 > 0.4 → hot; 'zebra' df=1/4 stays
    q = spark.createDataFrame(
        [
            # hot must: 'spark' dropped, query degrades to must='fast'
            Row(query_id=0, must="spark fast", should="", must_not=""),
            # hot must_not: exclusion lifted — doc 1 (contains spark)
            # is returned under the valve, excluded without it
            Row(query_id=1, must="fast", should="", must_not="spark"),
            # unseen must term survives the valve: still strict AND
            Row(query_id=2, must="zebra quux", should="", must_not=""),
        ]
    )
    out = boolean_topk(post, q, stats, k=5, max_df_frac=0.4)
    got = sorted((r.query_id, r.doc_id) for r in out.collect())
    assert got == [(0, 1), (1, 1)]
    pre = boolean_topk(
        post, q, stats, k=5, dfreq=term_stats(post), max_df_frac=0.4
    )
    assert sorted(
        (r.query_id, r.doc_id, r.rank, r.n_must, r.n_should, r.bm25)
        for r in pre.collect()
    ) == sorted(
        (r.query_id, r.doc_id, r.rank, r.n_must, r.n_should, r.bm25)
        for r in out.collect()
    )
    # without the valve: q0 strict AND on spark+fast → doc 1 only;
    # q1's must_not='spark' excludes doc 1 → no rows for q1
    full = boolean_topk(post, q, stats, k=5)
    assert sorted((r.query_id, r.doc_id) for r in full.collect()) == [
        (0, 1)
    ]


def test_boolean_topk_min_should_match(spark):
    from datamunging_spark.operators.retrieval import boolean_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma"),
            Row(doc_id=2, text="alpha beta"),
            Row(doc_id=3, text="alpha delta"),
            Row(doc_id=4, text="beta gamma"),
        ]
    )
    post, stats = inverted_index(docs), index_stats(docs)
    # no must: default needs >=1 should; msm=2 needs two distinct
    q = spark.createDataFrame(
        [(0, None, "beta gamma delta", "")],
        "query_id long, must string, should string, must_not string",
    )
    loose = boolean_topk(post, q, stats, k=5)
    assert sorted(r.doc_id for r in loose.collect()) == [1, 2, 3, 4]
    tight = boolean_topk(post, q, stats, k=5, min_should_match=2)
    assert sorted(r.doc_id for r in tight.collect()) == [1, 4]
    # with must: msm applies ON TOP of the strict AND
    qm = spark.createDataFrame(
        [Row(query_id=0, must="alpha", should="beta gamma delta",
             must_not="")]
    )
    both = boolean_topk(post, qm, stats, k=5, min_should_match=2)
    assert [r.doc_id for r in both.collect()] == [1]


def test_advance_index_empty_text_update_is_delete(spark):
    """replace_ids=True with an empty/NULL-text batch row removes the
    doc from the index — the documented delete semantics."""
    docs = _docs(spark)
    batch = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text=None)]
    )
    rolled = advance_index(inverted_index(docs), batch, replace_ids=True)
    assert rolled.filter("doc_id in (1, 2)").count() == 0
    after = docs.filter("doc_id not in (1, 2)")
    assert sorted(map(tuple, rolled.collect())) == sorted(
        map(tuple, inverted_index(after).collect())
    )


def _fielded_docs(spark):
    return spark.createDataFrame(
        [
            (1, "spark guide", "rows and shuffles explained here"),
            (2, "zebra manual", "spark spark broadcast join details"),
            (3, "unrelated title", "zebra stampede spark"),
            (4, "", "empty title doc body"),
        ],
        "doc_id long, title string, body string",
    )


def test_fielded_index_and_stats(spark):
    from datamunging_spark.operators.retrieval import (
        field_stats,
        fielded_index,
        fielded_term_stats,
    )

    docs = _fielded_docs(spark)
    post = fielded_index(docs, ["title", "body"])
    rows = {
        (r.field, r.term, r.doc_id): (r.tf, r.field_len)
        for r in post.collect()
    }
    assert rows[("title", "spark", 1)] == (1, 2)
    assert rows[("body", "spark", 2)] == (2, 5)
    # empty title contributes no postings
    assert not [k_ for k_ in rows if k_ == ("title", "", 4)]
    assert not [k_ for k_ in rows if k_[0] == "title" and k_[2] == 4]
    st = {r.field: (r.n_docs, r.total_len, r.avgdl)
          for r in field_stats(docs, ["title", "body"]).collect()}
    # zero-length titles still count toward n_docs and the average
    assert st["title"] == (4, 6, pytest.approx(6 / 4))
    assert st["body"][0] == 4
    # doc-grain df: 'spark' in title(1) + body(2, 3) + body(1)? →
    # docs {1, 2, 3}; a term in BOTH fields of one doc counts once
    dfr = {r.term: r.df for r in fielded_term_stats(post).collect()}
    assert dfr["spark"] == 3
    assert dfr["zebra"] == 2


def test_bm25f_hand_math_and_title_boost(spark):
    import math

    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
    )

    docs = _fielded_docs(spark)
    post = fielded_index(docs, ["title", "body"])
    fst = field_stats(docs, ["title", "body"])
    q = spark.createDataFrame(
        [(0, "zebra")], "query_id long, query string"
    )
    out = bm25f_topk(
        post, q, fst, weights={"title": 2.0, "body": 1.0}, k=5
    ).orderBy("rank").collect()
    # title hit (doc 2) outranks body hit (doc 3) under the 2× boost
    assert [r.doc_id for r in out] == [2, 3]
    # closed form for doc 2: zebra tf=1 in title (len 2, avgdl 1.5)
    w, b, k1 = 2.0, 0.75, 1.2
    tfw = round(w * (1.0 / (1.0 + b * (2 / 1.5 - 1.0))), 7)
    idf = math.log(1.0 + (4 - 2 + 0.5) / (2 + 0.5))
    assert out[0].bm25f == pytest.approx(
        idf * (tfw / (k1 + tfw)), abs=1e-6
    )


def test_bm25f_single_field_ranks_match_bm25(spark):
    """With one field, weight 1 and the same b, simple BM25F reduces to
    BM25 without the Lucene (k1+1) numerator constant — identical
    ranking, scores off by exactly that factor."""
    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 40).alias("query"),
    )
    a = bm25_topk(
        inverted_index(docs), queries, index_stats(docs), k=5
    ).collect()
    f = bm25f_topk(
        fielded_index(docs, {"text": "text"}),
        queries,
        field_stats(docs, {"text": "text"}),
        weights={"text": 1.0},
        k=5,
    ).collect()
    assert sorted((r.query_id, r.doc_id, r.rank) for r in a) == sorted(
        (r.query_id, r.doc_id, r.rank) for r in f
    )
    fa = {(r.query_id, r.doc_id): r.bm25f for r in f}
    for r in a:
        assert fa[(r.query_id, r.doc_id)] * 2.2 == pytest.approx(
            r.bm25, rel=1e-5
        )


def test_bm25f_matches_python_reference(spark):
    """Engine BM25F == a pure-Python reference with the same decimal
    discipline (quantize each weighted field tf, then each term
    contribution) on a real corpus split into synthetic title/body
    fields — including the saturates-once overlap semantics."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
    )

    raw = spark.read.parquet(f"{SF}/documents.parquet")
    docs = raw.select(
        "doc_id",
        F.substring("text", 1, 25).alias("title"),
        F.col("text").alias("body"),
    )
    rows = [(r.doc_id, r.title, r.body) for r in docs.collect()]
    toks = {
        i: {
            "title": [w for w in t.lower().split(" ") if w],
            "body": [w for w in bdy.lower().split(" ") if w],
        }
        for i, t, bdy in rows
    }
    n_docs = len(rows)
    avgdl = {
        f: sum(len(v[f]) for v in toks.values()) / n_docs
        for f in ("title", "body")
    }
    df: dict = {}
    for v in toks.values():
        for w in set(v["title"]) | set(v["body"]):
            df[w] = df.get(w, 0) + 1
    weights, bs, k1, k = {"title": 2.5, "body": 1.0}, 0.6, 1.2, 5
    q7 = Decimal("0.0000001")
    queries = [(i, " ".join(t.split(" ")[:3])) for i, t, _ in rows[:3]]
    want = []
    for qid, qtext in queries:
        terms = {w for w in qtext.lower().split(" ") if w}
        scored = []
        for did, v in toks.items():
            total = Decimal(0)
            hit = False
            for term in terms:
                tfw = Decimal(0)
                for f in ("title", "body"):
                    tf = v[f].count(term)
                    if tf:
                        tfn = tf / (
                            1.0 + bs * (len(v[f]) / avgdl[f] - 1.0)
                        )
                        tfw += Decimal(
                            repr(weights[f] * tfn)
                        ).quantize(q7, ROUND_HALF_UP)
                if tfw == 0:
                    continue
                hit = True
                idf = math.log(
                    1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5)
                )
                x = float(tfw)
                total += Decimal(repr(idf * (x / (k1 + x)))).quantize(
                    q7, ROUND_HALF_UP
                )
            if hit:
                scored.append((did, total))
        scored.sort(key=lambda t: (-t[1], t[0]))
        want += [
            (qid, did, r + 1, float(s))
            for r, (did, s) in enumerate(scored[:k])
        ]

    qdf = spark.createDataFrame(queries, "query_id long, query string")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25f)
        for r in bm25f_topk(
            fielded_index(docs, ["title", "body"]),
            qdf,
            field_stats(docs, ["title", "body"]),
            weights=weights,
            b=bs,
            k=k,
        ).collect()
    )
    assert got == sorted(want)
    # the precomputed-dfreq path agrees byte-for-byte
    from datamunging_spark.operators.retrieval import fielded_term_stats

    post = fielded_index(docs, ["title", "body"])
    pre = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25f)
        for r in bm25f_topk(
            post,
            qdf,
            field_stats(docs, ["title", "body"]),
            weights=weights,
            b=bs,
            k=k,
            dfreq=fielded_term_stats(post),
        ).collect()
    )
    assert pre == got


def test_bm25f_weights_subset_keeps_all_field_df(spark):
    """idf's df is doc-grain over ALL indexed fields on BOTH paths —
    searching only the title must not shrink df to title-only counts
    (the r13 review finding: the convenience path derived df from the
    weights-filtered postings)."""
    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
        fielded_term_stats,
    )

    docs = _fielded_docs(spark)
    post = fielded_index(docs, ["title", "body"])
    fst = field_stats(docs, ["title", "body"])
    q = spark.createDataFrame(
        [(0, "zebra spark")], "query_id long, query string"
    )
    fly = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25f)
        for r in bm25f_topk(
            post, q, fst, weights={"title": 1.0}, k=5
        ).collect()
    )
    pre = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25f)
        for r in bm25f_topk(
            post, q, fst, weights={"title": 1.0}, k=5,
            dfreq=fielded_term_stats(post),
        ).collect()
    )
    assert fly == pre and fly


def test_retrieval_metrics_duplicate_judgments_max_grade(spark):
    from datamunging_spark.operators.retrieval import retrieval_metrics

    ranking = spark.createDataFrame(
        [(0, 11, 1)], "query_id long, doc_id long, rank long"
    )
    qrels = spark.createDataFrame(
        [(0, 11, 1.0), (0, 11, 3.0), (0, 12, 2.0)],
        "query_id long, doc_id long, grade double",
    )
    r = retrieval_metrics(
        ranking, qrels, k=3, grade_col="grade"
    ).collect()[0]
    assert r.n_rel == 2  # (0,11) judged once, at max grade
    dcg = (2**3 - 1) / math.log2(2)
    idcg = (2**3 - 1) / math.log2(2) + (2**2 - 1) / math.log2(3)
    assert r.dcg_k == pytest.approx(dcg, abs=1e-6)
    assert r.ndcg_k == pytest.approx(dcg / idcg, abs=1e-6)


@pytest.mark.slow
def test_streaming_index_base_every_none_keeps_retention_bases(spark, tmp_path):
    """base_every=None removes only the LINEAGE bound — the retention
    term still compacts a base every keep_last-th fold, so vacuum can
    never delete the only base out from under the head (the r13
    review's data-loss finding)."""
    from datamunging_spark.sources.versioned import (
        DeltaLog,
        list_table_versions,
    )
    from datamunging_spark.streaming import (
        read_index_version,
        streaming_index_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "tbl")
    schema = "doc_id long, text string"
    batches = [[(i, f"doc number {i} text")] for i in range(5)]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    v = streaming_index_ingest(
        stream, table, checkpoint_path=str(tmp_path / "ck"),
        keep_last=2, base_every=None,
    )
    assert v == 5
    retained = list_table_versions(spark, table)
    assert len(retained) == 2
    # the head is always readable: its base survives retention
    assert any(
        DeltaLog(table).kind(spark, n) == "base" for n in retained
    )
    got = sorted(
        r.doc_id
        for r in read_index_version(spark, table)
        .select("doc_id").distinct().collect()
    )
    assert got == [0, 1, 2, 3, 4]


def test_bm25f_deterministic_under_repartition_and_valve(spark):
    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
    )

    docs = _fielded_docs(spark)
    fst = field_stats(docs, ["title", "body"])
    q = spark.createDataFrame(
        [(0, "spark zebra")], "query_id long, query string"
    )

    def run(d, **kw):
        return sorted(
            (r.query_id, r.doc_id, r.rank, r.bm25f)
            for r in bm25f_topk(
                fielded_index(d, ["title", "body"]),
                q,
                fst,
                weights={"title": 2.0, "body": 1.0},
                **kw,
            ).collect()
        )

    assert run(docs) == run(docs.repartition(7))
    # 'spark' is in 3/4 docs → valved at 0.5; only zebra scores
    valved = run(docs, max_df_frac=0.5)
    assert {t[1] for t in valved} == {2, 3}


def _grouped_docs(spark):
    return spark.createDataFrame(
        [
            (1, "en", "spark rows fast"),
            (2, "en", "spark broadcast join"),
            (3, "de", "spark schnell zeilen"),
            (4, "de", "zeilen zeilen puffer"),
            (5, None, "spark mystery rows"),
        ],
        "doc_id long, lang string, text string",
    )


def test_grouped_index_faces_equal_per_group_runs(spark):
    """The grouped index/stats/df/bm25 faces == running the ungrouped
    operator per group slice — including the NULL group, which is a
    real corpus (searched by NULL-group queries only)."""
    from datamunging_spark.operators.retrieval import bm25_topk

    docs = _grouped_docs(spark)
    post = inverted_index(docs, group_col="lang")
    stats = index_stats(docs, group_col="lang")
    dfr = term_stats(post, group_col="lang")
    q = spark.createDataFrame(
        [(10, "en", "spark rows"), (11, "de", "zeilen"),
         (12, None, "spark"), (13, "fr", "spark")],
        "query_id long, lang string, query string",
    )
    got = sorted(
        (r.query_id, r.lang, r.doc_id, r.rank, r.bm25)
        for r in bm25_topk(
            post, q, stats, k=5, group_col="lang", dfreq=dfr
        ).collect()
    )
    # reference: ungrouped run per slice
    want = []
    for lang, qids in (("en", [10]), ("de", [11]), (None, [12])):
        cond = (
            F.col("lang").isNull()
            if lang is None
            else F.col("lang") == lang
        )
        sl = docs.filter(cond)
        qs = q.filter(F.col("query_id").isin(qids)).select(
            "query_id", "query"
        )
        for r in bm25_topk(
            inverted_index(sl), qs, index_stats(sl), k=5
        ).collect():
            want.append((r.query_id, lang, r.doc_id, r.rank, r.bm25))
    assert got == sorted(want)
    # a group absent from the corpus (fr) returns nothing
    assert not [t for t in got if t[0] == 13]
    # convenience path (dfreq=None) agrees
    fly = sorted(
        (r.query_id, r.lang, r.doc_id, r.rank, r.bm25)
        for r in bm25_topk(
            post, q, stats, k=5, group_col="lang"
        ).collect()
    )
    assert fly == got


@pytest.mark.slow
def test_grouped_boolean_and_phrase_faces(spark):
    """Grouped boolean_topk / phrase_topk == the ungrouped operator on
    each group slice (NULL group included) — the bm25 grouped-face
    contract extended to the whole query family."""
    from datamunging_spark.operators.retrieval import (
        boolean_topk,
        phrase_topk,
    )

    docs = _grouped_docs(spark)
    post = inverted_index(docs, group_col="lang")
    stats = index_stats(docs, group_col="lang")
    bq = spark.createDataFrame(
        [
            (20, "en", "spark", "join", "fast"),
            (21, "de", "zeilen", "", None),
            (22, None, "spark", "", ""),
        ],
        "query_id long, lang string, must string, should string, "
        "must_not string",
    )
    got = sorted(
        (r.query_id, r.lang, r.doc_id, r.rank, r.n_must, r.n_should,
         r.bm25)
        for r in boolean_topk(
            post, bq, stats, k=5, group_col="lang"
        ).collect()
    )
    want = []
    for lang, qid in (("en", 20), ("de", 21), (None, 22)):
        cond = (
            F.col("lang").isNull()
            if lang is None
            else F.col("lang") == lang
        )
        sl = docs.filter(cond)
        qs = bq.filter(F.col("query_id") == qid).drop("lang")
        for r in boolean_topk(
            inverted_index(sl), qs, index_stats(sl), k=5
        ).collect():
            want.append(
                (r.query_id, lang, r.doc_id, r.rank, r.n_must,
                 r.n_should, r.bm25)
            )
    assert got == sorted(want) and got
    pq = spark.createDataFrame(
        [(30, "en", "spark broadcast"), (31, "de", "zeilen zeilen"),
         (32, None, "spark mystery")],
        "query_id long, lang string, query string",
    )
    ppost = inverted_index(docs, positions=True, group_col="lang")
    pgot = sorted(
        (r.query_id, r.lang, r.doc_id, r.rank, r.phrase_freq)
        for r in phrase_topk(
            ppost, pq, k=5, group_col="lang"
        ).collect()
    )
    pwant = []
    for lang, qid in (("en", 30), ("de", 31), (None, 32)):
        cond = (
            F.col("lang").isNull()
            if lang is None
            else F.col("lang") == lang
        )
        sl = docs.filter(cond)
        qs = pq.filter(F.col("query_id") == qid).drop("lang")
        for r in phrase_topk(
            inverted_index(sl, positions=True), qs, k=5
        ).collect():
            pwant.append((r.query_id, lang, r.doc_id, r.rank,
                          r.phrase_freq))
    assert pgot == sorted(pwant) and pgot
    # grouped proximity == per-slice ungrouped runs, both modes
    from datamunging_spark.operators.retrieval import near_topk

    for ordered in (False, True):
        ngot = sorted(
            (r.query_id, r.lang, r.doc_id, r.rank, r.min_span,
             r.span_start)
            for r in near_topk(
                ppost, pq, k=5, slop=3, ordered=ordered,
                group_col="lang",
            ).collect()
        )
        nwant = []
        for lang, qid in (("en", 30), ("de", 31), (None, 32)):
            cond = (
                F.col("lang").isNull()
                if lang is None
                else F.col("lang") == lang
            )
            sl = docs.filter(cond)
            qs = pq.filter(F.col("query_id") == qid).drop("lang")
            for r in near_topk(
                inverted_index(sl, positions=True), qs, k=5, slop=3,
                ordered=ordered,
            ).collect():
                nwant.append(
                    (r.query_id, lang, r.doc_id, r.rank, r.min_span,
                     r.span_start)
                )
        assert ngot == sorted(nwant) and ngot, f"ordered={ordered}"


def test_grouped_advance_index_replace_scoped_to_group(spark):
    docs = _grouped_docs(spark)
    post = inverted_index(docs, group_col="lang")
    # doc_id 1 exists in 'en'; replacing (de, 1) must NOT touch it
    batch = spark.createDataFrame(
        [(1, "de", "neu text"), (6, None, "more mystery")],
        "doc_id long, lang string, text string",
    )
    rolled = advance_index(
        post, batch, group_col="lang", replace_ids=True
    )
    after = docs.unionByName(batch)  # (de,1) is new; no collision in docs
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted(map(tuple, rolled.collect()), key=key) == sorted(
        map(tuple, inverted_index(after, group_col="lang").collect()),
        key=key,
    )
    # now a real replace: update (en, 1) and check (de, ...) untouched
    upd = spark.createDataFrame(
        [(1, "en", "rewritten entirely")],
        "doc_id long, lang string, text string",
    )
    rolled2 = advance_index(
        rolled, upd, group_col="lang", replace_ids=True
    )
    terms_en_1 = {
        r.term
        for r in rolled2.filter(
            "lang = 'en' and doc_id = 1"
        ).collect()
    }
    assert terms_en_1 == {"rewritten", "entirely"}
    assert rolled2.filter("lang = 'de' and doc_id = 1").count() > 0


def test_retrieval_metrics_hand_math(spark):
    from datamunging_spark.operators.retrieval import retrieval_metrics

    ranking = spark.createDataFrame(
        [(0, 5, 1), (0, 1, 2), (0, 2, 3), (0, 7, 4), (0, 3, 5),
         (2, 4, 1)],  # q2 is unjudged -> dropped
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 9), (1, 8)],
        "query_id long, doc_id long",
    )
    out = {r.query_id: r for r in
           retrieval_metrics(ranking, qrels, k=5).collect()}
    assert set(out) == {0, 1}
    r0 = out[0]
    assert (r0.n_rel, r0.n_ret, r0.rel_ret) == (4, 5, 3)
    assert r0.precision_k == pytest.approx(3 / 5)
    assert r0.recall_k == pytest.approx(3 / 4)
    assert r0.rr == pytest.approx(1 / 2)
    assert r0.ap_k == pytest.approx((1 / 2 + 2 / 3 + 3 / 5) / 4, abs=1e-6)
    dcg = sum(1 / math.log2(r + 1) for r in (2, 3, 5))
    idcg = sum(1 / math.log2(r + 1) for r in (1, 2, 3, 4))
    assert r0.dcg_k == pytest.approx(dcg, abs=1e-6)
    assert r0.ndcg_k == pytest.approx(dcg / idcg, abs=1e-6)
    r1 = out[1]  # judged but nothing retrieved: all-zero row
    assert (r1.n_rel, r1.n_ret, r1.rel_ret) == (1, 0, 0)
    assert (r1.precision_k, r1.recall_k, r1.rr, r1.ap_k,
            r1.dcg_k, r1.ndcg_k) == (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)


def test_retrieval_metrics_graded_ndcg(spark):
    from datamunging_spark.operators.retrieval import retrieval_metrics

    ranking = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, doc_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(0, 11, 2.0), (0, 12, 1.0), (0, 13, 3.0), (0, 14, 0.0)],
        "query_id long, doc_id long, grade double",
    )
    r = retrieval_metrics(
        ranking, qrels, k=3, grade_col="grade"
    ).collect()[0]
    # grade 0 dropped -> n_rel 3; retrieved grades: rank2=2, rank3=1
    assert r.n_rel == 3
    dcg = (2**2 - 1) / math.log2(3) + (2**1 - 1) / math.log2(4)
    idcg = (
        (2**3 - 1) / math.log2(2)
        + (2**2 - 1) / math.log2(3)
        + (2**1 - 1) / math.log2(4)
    )
    assert r.dcg_k == pytest.approx(dcg, abs=1e-6)
    assert r.ndcg_k == pytest.approx(dcg / idcg, abs=1e-6)


def test_retrieval_metrics_matches_python_reference(spark):
    """Engine metrics == a pure-Python scorer over a real BM25 ranking
    with synthetic judgments — every formula cross-checked per query."""
    from datamunging_spark.operators.retrieval import retrieval_metrics

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    queries = docs.filter(F.col("doc_id") < 6).select(
        F.col("doc_id").alias("query_id"),
        F.substring("text", 1, 40).alias("query"),
    )
    ranking = bm25_topk(
        inverted_index(docs), queries, index_stats(docs), k=8
    )
    qrels = docs.filter(F.col("doc_id") < 60).select(
        (F.col("doc_id") % 6).alias("query_id"),
        F.col("doc_id").alias("doc_id"),
    )
    k = 8
    got = {
        r.query_id: r
        for r in retrieval_metrics(ranking, qrels, k=k).collect()
    }
    rank_rows = sorted(
        (r.query_id, r.rank, r.doc_id) for r in ranking.collect()
    )
    rel = {}
    for r in qrels.collect():
        rel.setdefault(r.query_id, set()).add(r.doc_id)
    for qid, relset in rel.items():
        retrieved = [(rk_, did) for q, rk_, did in rank_rows if q == qid]
        hits = [rk_ for rk_, did in retrieved if did in relset]
        n_rel = len(relset)
        row = got[qid]
        assert row.n_rel == n_rel
        assert row.rel_ret == len(hits)
        assert row.precision_k == pytest.approx(len(hits) / k)
        assert row.recall_k == pytest.approx(len(hits) / n_rel)
        assert row.rr == pytest.approx(1 / hits[0] if hits else 0.0)
        ap = (
            sum(
                (i + 1) / rk_
                for i, rk_ in enumerate(hits)
            )
            / min(n_rel, k)
            if hits
            else 0.0
        )
        assert row.ap_k == pytest.approx(ap, abs=1e-6)
        dcg = sum(1 / math.log2(rk_ + 1) for rk_ in hits)
        idcg = sum(
            1 / math.log2(r_ + 1) for r_ in range(1, min(n_rel, k) + 1)
        )
        assert row.dcg_k == pytest.approx(dcg, abs=1e-6)
        assert row.ndcg_k == pytest.approx(
            dcg / idcg if idcg else 0.0, abs=1e-6
        )


def test_more_like_this_planted_and_self_invariant(spark):
    from datamunging_spark.operators.retrieval import more_like_this

    docs = spark.createDataFrame(
        [
            (1, "zebra stampede crosses river"),
            (2, "zebra stampede near river delta"),
            (3, "broadcast join shuffle plan"),
            (4, "shuffle plan broadcast join cost"),
            (5, "unrelated text entirely here"),
        ],
        "doc_id long, text string",
    )
    post, stats = inverted_index(docs), index_stats(docs)
    ids = spark.createDataFrame([(1,), (3,)], "doc_id long")
    out = more_like_this(post, ids, stats, k=2)
    top = {
        r.query_id: r.doc_id
        for r in out.filter("rank = 1").collect()
    }
    # nearest neighbor of 1 is its zebra twin 2; of 3 its join twin 4
    assert top == {1: 2, 3: 4}
    # self excluded by default...
    assert out.filter("query_id = doc_id").count() == 0
    # ...and ranks FIRST when included (sanity invariant)
    with_self = more_like_this(post, ids, stats, k=3, include_self=True)
    firsts = {
        r.query_id: r.doc_id
        for r in with_self.filter("rank = 1").collect()
    }
    assert firsts == {1: 1, 3: 3}


def test_more_like_this_real_corpus_and_df_filters(spark):
    from datamunging_spark.operators.retrieval import more_like_this

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    post, stats = inverted_index(docs), index_stats(docs)
    ids = docs.filter(F.col("doc_id") < 3).select("doc_id")
    base = more_like_this(post, ids, stats, k=5)
    rows = base.collect()
    assert rows and all(r.query_id != r.doc_id for r in rows)
    # determinism under repartition
    again = more_like_this(
        inverted_index(docs.repartition(13)), ids, stats, k=5
    )
    assert sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25) for r in rows
    ) == sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25) for r in again.collect()
    )
    # the precomputed-dfreq path agrees
    pre = more_like_this(
        post, ids, stats, k=5, dfreq=term_stats(post)
    )
    assert sorted(
        (r.query_id, r.doc_id, r.rank, round(r.bm25, 9))
        for r in pre.collect()
    ) == sorted(
        (r.query_id, r.doc_id, r.rank, round(r.bm25, 9)) for r in rows
    )
    # a tight term budget still returns results and stays deterministic
    tight = more_like_this(post, ids, stats, k=5, max_query_terms=3)
    assert tight.count() > 0


def _lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(
                dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
            )
    return dp[-1]


def test_spell_suggest_planted_and_exhaustive_recall(spark):
    from datamunging_spark.operators.retrieval import spell_suggest

    docs = spark.createDataFrame(
        [
            (1, "zebra zebra stampede river"),
            (2, "zebra broadcast join"),
            (3, "spark shuffle join join plan"),
            (4, "sparse spars park"),
        ],
        "doc_id long, text string",
    )
    dfreq = term_stats(inverted_index(docs))
    q = spark.createDataFrame(
        [("zebr",), ("spark",), ("joim",), ("qqqq",)], "term string"
    )
    out = spell_suggest(dfreq, q, k=3, max_edit=1)
    by_term = {}
    for r in out.collect():
        by_term.setdefault(r.term, []).append(
            (r.rank, r.suggestion, r.distance, r.df)
        )
    # 'zebr' -> zebra (delete recall across an insertion)
    assert sorted(by_term["zebr"])[0][1:3] == ("zebra", 1)
    # exact hit surfaces at distance 0 rank 1
    assert sorted(by_term["spark"])[0] == (1, "spark", 0, 1)
    # 'spark' neighbors at distance 1: park, spars, sparse? (2 edits)
    sugg = [s for _, s, d, _ in sorted(by_term["spark"]) if d == 1]
    assert set(sugg) <= {"park", "spars"}
    # 'joim' -> join (substitution); 'qqqq' -> nothing
    assert sorted(by_term["joim"])[0][1] == "join"
    assert "qqqq" not in by_term
    # EXHAUSTIVE recall check vs all-pairs Levenshtein at max_edit=2
    vocab = {(r.term, r.df) for r in dfreq.collect()}
    out2 = spell_suggest(dfreq, q, k=100, max_edit=2)
    got2 = {}
    for r in out2.collect():
        got2.setdefault(r.term, set()).add((r.suggestion, r.distance))
    for qt in ("zebr", "spark", "joim", "qqqq"):
        want = {(v, _lev(qt, v)) for v, _ in vocab if _lev(qt, v) <= 2}
        assert got2.get(qt, set()) == want, qt
    # ranking: distance asc, then df desc ('join' df=2 beats df-1 ties)
    r2 = {r.suggestion: (r.distance, r.df, r.rank)
          for r in out2.collect() if r.term == "joim"}
    ranked = sorted(r2.values(), key=lambda t: t[2])
    assert ranked == sorted(ranked, key=lambda t: (t[0], -t[1]))


def test_near_topk_min_span_and_slop(spark):
    from datamunging_spark.operators.retrieval import near_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),       # a..g adjacent-ish
            (2, "alpha x x gamma"),        # span 4
            (3, "gamma alpha"),            # reversed, adjacent
            (4, "alpha x x x x x gamma"),  # span 7
            (5, "alpha only here"),        # missing gamma
            (6, "gamma y alpha y gamma alpha"),  # best window at end
        ],
        "doc_id long, text string",
    )
    post = inverted_index(docs, positions=True)
    q = spark.createDataFrame(
        [(0, "alpha gamma"), (1, "alpha"), (2, "alpha gamma zzz")],
        "query_id long, query string",
    )
    tight = near_topk(post, q, k=10, slop=0)
    got = {(r.query_id, r.doc_id): (r.rank, r.min_span)
           for r in tight.collect()}
    # slop 0: only adjacent pairs qualify (docs 3 and 6)
    assert {k_ for k_ in got if k_[0] == 0} == {(0, 3), (0, 6)}
    assert got[(0, 3)] == (1, 2) and got[(0, 6)] == (2, 2)
    # single-term query: every doc containing it, span 1
    assert {k_[1] for k_ in got if k_[0] == 1} == {1, 2, 3, 4, 5, 6}
    # a query term absent from the corpus -> no rows
    assert not [k_ for k_ in got if k_[0] == 2]
    loose = near_topk(post, q, k=10, slop=2)
    got2 = {(r.query_id, r.doc_id): r.min_span for r in loose.collect()}
    assert got2[(0, 1)] == 3 and got2[(0, 2)] == 4
    assert (0, 4) not in got2  # span 7 > 2 + 2
    # duplicate terms collapse (set semantics)
    dq = spark.createDataFrame(
        [(9, "alpha alpha gamma")], "query_id long, query string"
    )
    assert {
        (r.doc_id, r.min_span)
        for r in near_topk(post, dq, k=10, slop=0).collect()
    } == {(3, 2), (6, 2)}


def _ordered_min_span(toks, terms):
    """Greedy reference: for each start matching terms[0], take the
    earliest in-order completion; min span over starts."""
    best = None
    for i, t in enumerate(toks):
        if t != terms[0]:
            continue
        j, ok = i, True
        for term in terms[1:]:
            nxt = next(
                (p for p in range(j + 1, len(toks)) if toks[p] == term),
                None,
            )
            if nxt is None:
                ok = False
                break
            j = nxt
        if ok:
            span = j - i + 1
            best = span if best is None else min(best, span)
    return best


def test_near_topk_ordered_planted_and_phrase_parity(spark):
    from datamunging_spark.operators.retrieval import (
        near_topk,
        phrase_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "red fox jumps"),
            (2, "fox red"),          # unordered-adjacent, NOT in order
            (3, "red x fox"),        # ordered span 3
            (4, "a b a"),
            (5, "a b"),
            (6, "red fox red fox"),
        ],
        "doc_id long, text string",
    )
    post = inverted_index(docs, positions=True)
    q = spark.createDataFrame(
        [(0, "red fox")], "query_id long, query string"
    )
    strict = {
        r.doc_id: r.min_span
        for r in near_topk(post, q, k=10, slop=0, ordered=True).collect()
    }
    assert strict == {1: 2, 6: 2}  # doc 2 reversed, doc 3 span 3
    loose = {
        r.doc_id: r.min_span
        for r in near_topk(post, q, k=10, slop=1, ordered=True).collect()
    }
    assert loose == {1: 2, 3: 3, 6: 2}
    # duplicates kept in order: "a b a" needs two distinct a positions
    dq = spark.createDataFrame(
        [(0, "a b a")], "query_id long, query string"
    )
    dup = {
        r.doc_id: r.min_span
        for r in near_topk(post, dq, k=10, slop=0, ordered=True).collect()
    }
    assert dup == {4: 3}  # doc 5 lacks the second a
    # ordered slop=0 accepts exactly the phrase matches on real data
    rdocs = spark.read.parquet(f"{SF}/documents.parquet")
    rpost = inverted_index(rdocs, positions=True)
    phrases = rdocs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " ", -1), 1, 3)
        ).alias("query"),
    )
    ph = {(r.query_id, r.doc_id)
          for r in phrase_topk(rpost, phrases, k=1000).collect()}
    nr = {(r.query_id, r.doc_id)
          for r in near_topk(
              rpost, phrases, k=1000, slop=0, ordered=True
          ).collect()}
    assert ph == nr and ph


def test_near_topk_ordered_matches_greedy_reference(spark):
    from datamunging_spark.operators.retrieval import near_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    qs = []
    for i, (did, t) in enumerate(rows[:3]):
        toks = [w for w in t.lower().split(" ") if w]
        # an in-order but non-adjacent subsequence of the doc
        qs.append((i, " ".join(toks[0:5:2])))
    post = inverted_index(docs, positions=True)
    qdf = spark.createDataFrame(qs, "query_id long, query string")
    for slop in (0, 4):
        want = []
        for qid, q in qs:
            terms = [w for w in q.lower().split(" ") if w]
            scored = []
            for did, text in rows:
                toks = [w for w in text.lower().split(" ") if w]
                best = _ordered_min_span(toks, terms)
                if best is not None and best <= len(terms) + slop:
                    scored.append((did, best))
            scored.sort(key=lambda x: (x[1], x[0]))
            want += [
                (qid, did, r + 1, s)
                for r, (did, s) in enumerate(scored[:10])
            ]
        got = sorted(
            (r.query_id, r.doc_id, r.rank, r.min_span)
            for r in near_topk(
                post, qdf, k=10, slop=slop, ordered=True
            ).collect()
        )
        assert got == sorted(want), f"slop={slop}"


def test_snippets_window_and_clamping(spark):
    from datamunging_spark.operators.retrieval import (
        near_topk,
        snippets,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "brown fox first words here"),
            (3, "ends with the brown fox"),
        ],
        "doc_id long, text string",
    )
    post = inverted_index(docs, positions=True)
    q = spark.createDataFrame(
        [(0, "brown fox")], "query_id long, query string"
    )
    hits = near_topk(post, q, k=10, slop=0, ordered=True)
    spans = {r.doc_id: (r.span_start, r.min_span) for r in hits.collect()}
    assert spans == {1: (2, 2), 2: (0, 2), 3: (3, 2)}
    out = {r.doc_id: r.snippet
           for r in snippets(docs, hits, context=1).collect()}
    assert out[1] == "quick brown fox jumps"
    assert out[2] == "brown fox first"     # left edge clamped
    assert out[3] == "the brown fox"       # right edge clamped
    wide = {r.doc_id: r.snippet
            for r in snippets(docs, hits, context=10).collect()}
    assert wide[1] == "the quick brown fox jumps over the lazy dog"
    # span_start also lands for the unordered scan
    uq = spark.createDataFrame(
        [(0, "fox brown")], "query_id long, query string"
    )
    uspans = {
        r.doc_id: (r.span_start, r.min_span)
        for r in near_topk(post, uq, k=10, slop=0).collect()
    }
    assert uspans == spans


def test_near_topk_matches_python_reference(spark):
    from datamunging_spark.operators.retrieval import near_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    # queries from real doc tokens, guaranteed matches
    qs = []
    for i, (did, t) in enumerate(rows[:3]):
        toks = [w for w in t.lower().split(" ") if w]
        qs.append((i, " ".join(dict.fromkeys(toks[:3]))))

    def ref(slop):
        out = []
        for qid, q in qs:
            terms = sorted(set(w for w in q.lower().split(" ") if w))
            n = len(terms)
            scored = []
            for did, text in rows:
                toks = [w for w in text.lower().split(" ") if w]
                best = None
                for i in range(len(toks)):
                    seen = {}
                    for j in range(i, len(toks)):
                        if toks[j] in terms:
                            seen[toks[j]] = j
                        if len(seen) == n:
                            span = j - i + 1
                            best = span if best is None else min(
                                best, span
                            )
                            break
                if best is not None and best <= n + slop:
                    scored.append((did, best))
            scored.sort(key=lambda x: (x[1], x[0]))
            out += [
                (qid, did, r + 1, s)
                for r, (did, s) in enumerate(scored[:10])
            ]
        return sorted(out)

    post = inverted_index(docs, positions=True)
    qdf = spark.createDataFrame(qs, "query_id long, query string")
    for slop in (0, 3):
        got = sorted(
            (r.query_id, r.doc_id, r.rank, r.min_span)
            for r in near_topk(post, qdf, k=10, slop=slop).collect()
        )
        assert got == ref(slop), f"slop={slop}"


def test_advance_index_fielded_roll_forward(spark):
    from datamunging_spark.operators.retrieval import fielded_index

    docs = _fielded_docs(spark)
    hist = fielded_index(docs, ["title", "body"])
    batch = spark.createDataFrame(
        [(1, "new title", "entirely new body"),   # replace
         (9, "fresh", "brand new doc"),           # append
         (4, "", "")],                            # delete via empty
        "doc_id long, title string, body string",
    )
    rolled = advance_index(
        hist, batch, replace_ids=True, fields=["title", "body"]
    )
    after = docs.filter("doc_id not in (1, 4)").unionByName(
        batch.filter("doc_id != 4")
    )
    assert sorted(map(tuple, rolled.collect())) == sorted(
        map(tuple, fielded_index(after, ["title", "body"]).collect())
    )
    # schema detection fails fast both ways
    with pytest.raises(ValueError, match="FIELDED"):
        advance_index(hist, batch)
    with pytest.raises(ValueError, match="not a fielded_index"):
        advance_index(
            inverted_index(_docs(spark)),
            _docs(spark),
            fields=["text"],
        )


def test_advance_index_preserves_positional_schema(spark):
    """A positions=True index rolls forward AS a positional index on
    both the append and replace paths — equal to a full positional
    rebuild, and still phrase-searchable (the review found the replace
    path silently stripping positions and the append path throwing)."""
    from datamunging_spark.operators.retrieval import phrase_topk

    docs = _docs(spark)
    hist = inverted_index(docs.filter("doc_id <= 2"), positions=True)
    batch = docs.filter("doc_id > 2")
    appended = advance_index(hist, batch)
    assert "positions" in appended.columns
    assert sorted(map(tuple, appended.collect())) == sorted(
        map(tuple, inverted_index(docs, positions=True).collect())
    )
    upd = spark.createDataFrame(
        [Row(doc_id=2, text="zebra broadcast zebra")]
    )
    replaced = advance_index(
        inverted_index(docs, positions=True), upd, replace_ids=True
    )
    after = docs.filter("doc_id != 2").unionByName(upd)
    assert sorted(map(tuple, replaced.collect())) == sorted(
        map(tuple, inverted_index(after, positions=True).collect())
    )
    q = spark.createDataFrame([Row(query_id=0, query="zebra broadcast")])
    hits = phrase_topk(replaced, q, k=3).collect()
    assert [(r.doc_id, r.phrase_freq) for r in hits] == [(2, 1)]


@pytest.mark.slow
def test_positional_hot_term_guard(spark):
    """phrase_topk/near_topk max_df_frac is a GUARD, not a valve:
    semantics forbid dropping a term, so a hot query term raises (or
    warns) at query-construction time — on both df paths, on the
    grouped face, and judged against the query's own group's corpus."""
    import warnings

    from datamunging_spark.operators.retrieval import near_topk, phrase_topk

    docs = spark.createDataFrame(
        [
            (1, "the spark engine"),
            (2, "the fast plan"),
            (3, "the wide shuffle"),
            (4, "zebra stampede here"),
        ],
        "doc_id long, text string",
    )
    post = inverted_index(docs, positions=True)
    stats = index_stats(docs)
    dfr = term_stats(post)
    hot_q = spark.createDataFrame(
        [(0, "the spark")], "query_id long, query string"
    )
    cold_q = spark.createDataFrame(
        [(0, "zebra stampede")], "query_id long, query string"
    )
    for op in (phrase_topk, near_topk):
        # precomputed-df path: fails fast, names the term
        with pytest.raises(ValueError, match="'the'"):
            op(post, hot_q, stats=stats, dfreq=dfr, max_df_frac=0.5)
        # on-the-fly df path
        with pytest.raises(ValueError, match="max_df_frac"):
            op(post, hot_q, stats=stats, max_df_frac=0.5)
        # max_df_frac without stats is a usage error
        with pytest.raises(ValueError, match="stats"):
            op(post, hot_q, max_df_frac=0.5)
        # warn mode proceeds with unchanged semantics
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            hits = op(
                post, hot_q, stats=stats, dfreq=dfr,
                max_df_frac=0.5, on_hot="warn",
            ).collect()
        assert any("max_df_frac" in str(x.message) for x in w)
        assert hits == op(post, hot_q).collect()
        # a cold query passes the guard silently and matches
        guarded = op(
            post, cold_q, stats=stats, dfreq=dfr, max_df_frac=0.5
        )
        assert [r.doc_id for r in guarded.collect()] == [4]

    # grouped face: hotness is judged against the query's OWN group
    gdocs = spark.createDataFrame(
        [
            ("en", 1, "the spark engine"),
            ("en", 2, "the fast plan"),
            ("de", 1, "der funke brennt"),
            ("de", 2, "the imported word"),
        ],
        "lang string, doc_id long, text string",
    )
    gpost = inverted_index(gdocs, positions=True, group_col="lang")
    gstats = index_stats(gdocs, group_col="lang")
    gdfr = term_stats(gpost, group_col="lang")
    en_q = spark.createDataFrame(
        [("en", 0, "the spark")], "lang string, query_id long, query string"
    )
    de_q = spark.createDataFrame(
        [("de", 0, "the imported")], "lang string, query_id long, query string"
    )
    # 'the' is hot in en (2/2 docs) but df 1/2 in de at frac 0.6
    with pytest.raises(ValueError, match="'the'"):
        phrase_topk(
            gpost, en_q, group_col="lang",
            stats=gstats, dfreq=gdfr, max_df_frac=0.6,
        )
    ok = phrase_topk(
        gpost, de_q, group_col="lang",
        stats=gstats, dfreq=gdfr, max_df_frac=0.6,
    )
    assert [(r.lang, r.doc_id) for r in ok.collect()] == [("de", 2)]


def test_bm25f_validates_weights_against_fstats(spark):
    """Mismatched build args fail loudly instead of silently dropping a
    field from scoring: per-field b keys ⊄ weights raise at
    construction; a postings field missing from fstats (or carrying
    avgdl ≤ 0) raises at execution via the lazy in-plan check."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
    )

    docs = _fielded_docs(spark)
    post = fielded_index(docs, ["title", "body"])
    fst = field_stats(docs, ["title", "body"])
    q = spark.createDataFrame([(0, "zebra")], "query_id long, query string")
    with pytest.raises(ValueError, match="not in weights"):
        bm25f_topk(
            post, q, fst, weights={"title": 2.0}, b={"body": 0.5}
        )
    # fstats missing a field that HAS postings → in-plan raise at
    # the first action, naming the field
    fst_no_title = fst.filter(F.col("field") != "title")
    with pytest.raises(SparkRuntimeException, match="missing from fstats"):
        bm25f_topk(
            post, q, fst_no_title, weights={"title": 2.0, "body": 1.0}
        ).collect()
    # doctored zero-avgdl stats raise the same way
    fst_zero = fst.withColumn(
        "avgdl",
        F.when(F.col("field") == "title", F.lit(0.0)).otherwise(
            F.col("avgdl")
        ),
    )
    with pytest.raises(SparkRuntimeException, match="avgdl <= 0"):
        bm25f_topk(
            post, q, fst_zero, weights={"title": 2.0, "body": 1.0}
        ).collect()
    # a consistently-built all-empty field has no postings: it simply
    # contributes nothing (no divide-by-zero row ever exists)
    empty_titled = spark.createDataFrame(
        [(1, "", "body text here"), (2, "", "more body")],
        "doc_id long, title string, body string",
    )
    post2 = fielded_index(empty_titled, ["title", "body"])
    fst2 = field_stats(empty_titled, ["title", "body"])
    q2 = spark.createDataFrame([(0, "body")], "query_id long, query string")
    out = bm25f_topk(
        post2, q2, fst2, weights={"title": 2.0, "body": 1.0}, k=5
    ).collect()
    # both docs match on body; the shorter body length-normalizes higher
    assert [r.doc_id for r in out] == [2, 1]


@pytest.mark.slow
def test_boolean_topk_msm_degrades_with_valved_should_terms(spark):
    """min_should_match degrades per query by the number of should
    terms the valve removed (the stop-filter analogy): a query whose
    every should term is hot degrades to must-only matching instead of
    silently matching nothing — identically on both df paths."""
    from datamunging_spark.operators.retrieval import boolean_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the a alpha beta"),
            Row(doc_id=2, text="the a alpha"),
            Row(doc_id=3, text="the a gamma"),
            Row(doc_id=4, text="the beta gamma"),
        ]
    )
    post, stats = inverted_index(docs), index_stats(docs)
    # 'the' df=4/4 and 'a' df=3/4 are hot at frac 0.6; beta/gamma (2/4)
    # and alpha (2/4) survive
    q = spark.createDataFrame(
        [
            # both should terms hot → msm 2 degrades to 0: must-only
            Row(query_id=0, must="alpha", should="the a", must_not=""),
            # one of three should terms hot → msm 2 degrades to 1
            Row(query_id=1, must=None, should="the beta gamma",
                must_not=""),
            # nothing valved → msm enforced verbatim
            Row(query_id=2, must=None, should="beta gamma alpha",
                must_not=""),
        ]
    )
    out = boolean_topk(
        post, q, stats, k=5, max_df_frac=0.6, min_should_match=2
    )
    got = sorted((r.query_id, r.doc_id) for r in out.collect())
    # q0: must-only → docs with alpha; q1: ≥1 of beta/gamma;
    # q2: ≥2 of beta/gamma/alpha (doc 1 has alpha+beta, doc 4 b+g)
    assert got == [
        (0, 1), (0, 2), (1, 1), (1, 3), (1, 4), (2, 1), (2, 4),
    ]
    pre = boolean_topk(
        post, q, stats, k=5, dfreq=term_stats(post),
        max_df_frac=0.6, min_should_match=2,
    )
    assert sorted((r.query_id, r.doc_id) for r in pre.collect()) == got
    # without the valve, msm=2 over hot shoulds is enforced literally
    strict = boolean_topk(post, q, stats, k=5, min_should_match=2)
    sgot = sorted((r.query_id, r.doc_id) for r in strict.collect())
    # q0: must alpha AND ≥2 of {the, a} → docs 1, 2; q1: ≥2 of
    # {the, beta, gamma} → 1 (the+beta), 3 (the+gamma), 4 (all);
    # q2 unchanged
    assert sgot == [
        (0, 1), (0, 2), (1, 1), (1, 3), (1, 4), (2, 1), (2, 4),
    ]


def test_bm25f_matches_duckdb(spark):
    """Full BM25F re-derivation in DuckDB over the sf0.001 documents
    table (fields synthesized identically in both engines: title =
    first 20 chars, body = full text) — the in-pytest oracle for the
    fielded family: same decimal(28,7) fold points, same cast-to-double
    points, byte-comparable at 6 dp. The precomputed doc-grain dfreq
    path must agree with the on-the-fly one too."""
    import duckdb

    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
        fielded_term_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.substring("text", 1, 20).alias("title"),
        F.col("text").alias("body"),
    )
    post = fielded_index(docs, ["title", "body"])
    fst = field_stats(docs, ["title", "body"])
    queries = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.substring("body", 1, 40).alias("query"),
    )
    out = bm25f_topk(
        post, queries, fst, weights={"title": 2.0, "body": 1.0}, k=5
    )
    got = sorted(
        (r.query_id, r.doc_id, r.rank, round(r.bm25f, 6))
        for r in out.collect()
    )
    pre = bm25f_topk(
        post, queries, fst, weights={"title": 2.0, "body": 1.0}, k=5,
        dfreq=fielded_term_stats(post),
    )
    assert sorted(
        (r.query_id, r.doc_id, r.rank, round(r.bm25f, 6))
        for r in pre.collect()
    ) == got

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * "
        f"FROM '{SF}/documents.parquet'"
    )
    want = sorted(
        (qid, did, rank, round(s, 6))
        for qid, did, rank, s in con.sql(
            """
            WITH docs2 AS (
              SELECT doc_id, substring(text, 1, 20) AS title,
                     text AS body
              FROM documents
            ), flen AS (
              SELECT doc_id, 'title' AS field,
                     len(list_filter(string_split(lower(title), ' '),
                                     x -> x != '')) AS field_len
              FROM docs2
              UNION ALL
              SELECT doc_id, 'body',
                     len(list_filter(string_split(lower(body), ' '),
                                     x -> x != ''))
              FROM docs2
            ), fstats AS (
              SELECT field, count(*) AS n_docs,
                     CAST(sum(field_len) AS DOUBLE) / count(*) AS avgdl
              FROM flen GROUP BY field
            ), n AS (
              SELECT max(n_docs) AS n_docs FROM fstats
            ), ftoks AS (
              SELECT doc_id, 'title' AS field,
                     unnest(list_filter(string_split(lower(title), ' '),
                                        x -> x != '')) AS term
              FROM docs2
              UNION ALL
              SELECT doc_id, 'body',
                     unnest(list_filter(string_split(lower(body), ' '),
                                        x -> x != ''))
              FROM docs2
            ), post AS (
              SELECT field, term, doc_id, count(*) AS tf
              FROM ftoks GROUP BY field, term, doc_id
            ), qt AS (
              SELECT DISTINCT doc_id AS query_id,
                     unnest(list_filter(
                         string_split(lower(substring(body, 1, 40)), ' '),
                         x -> x != '')) AS term
              FROM docs2 WHERE doc_id < 3
            ), dfreq AS (
              SELECT term, count(DISTINCT doc_id) AS df FROM post
              WHERE term IN (SELECT DISTINCT term FROM qt)
              GROUP BY term
            ), per_term AS (
              SELECT qt.query_id, post.doc_id, post.term,
                     sum(CAST(
                       (CASE post.field WHEN 'title' THEN 2.0
                                        ELSE 1.0 END)
                       * (post.tf / (1.0 + 0.75 *
                            (flen.field_len / fstats.avgdl - 1.0)))
                       AS DECIMAL(28,7))) AS tfw
              FROM post
              JOIN qt USING (term)
              JOIN flen ON flen.doc_id = post.doc_id
                       AND flen.field = post.field
              JOIN fstats ON fstats.field = post.field
              GROUP BY qt.query_id, post.doc_id, post.term
            ), per_doc AS (
              SELECT query_id, doc_id,
                     sum(CAST(
                       ln(1.0 + (n.n_docs - dfreq.df + 0.5)
                                / (dfreq.df + 0.5))
                       * (CAST(tfw AS DOUBLE)
                          / (1.2 + CAST(tfw AS DOUBLE)))
                       AS DECIMAL(28,7))) AS s
              FROM per_term
              JOIN dfreq USING (term) CROSS JOIN n
              GROUP BY query_id, doc_id
            )
            SELECT query_id, doc_id, rank, CAST(s AS DOUBLE) FROM (
              SELECT query_id, doc_id, s,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY s DESC, doc_id) AS rank
              FROM per_doc
            ) WHERE rank <= 5
            """
        ).fetchall()
    )
    assert got == want


@pytest.mark.slow
def test_hit_windows_for_ranked_hits_and_snippets(spark):
    """hit_windows gives bm25/boolean/rrf hits a best-window leg: the
    minimal token window covering every query term PRESENT in the doc
    (partial matches get their own window), NULL for hits whose doc
    matches nothing — and snippets consumes the output directly."""
    from datamunging_spark.operators.retrieval import (
        hit_windows,
        snippets,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha x x beta then alpha beta tail"),
            (2, "beta only in this doc"),
            (3, "alpha alone here"),
            (4, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    post = inverted_index(docs, positions=True)
    stats = index_stats(docs)
    q = spark.createDataFrame(
        [(0, "alpha beta")], "query_id long, query string"
    )
    ranked = bm25_topk(post, q, stats, k=10)
    assert sorted(r.doc_id for r in ranked.collect()) == [1, 2, 3]
    win = hit_windows(post, ranked, q)
    got = {
        r.doc_id: (r.n_terms, r.min_span, r.span_start)
        for r in win.collect()
    }
    # doc 1 contains both: best window is "alpha beta" at offsets 5-6
    assert got[1] == (2, 2, 5)
    # partial matches window their own matched term (span 1)
    assert got[2] == (1, 1, 0)
    assert got[3] == (1, 1, 0)
    # a hit row never drops: full outer shape preserved via left join
    assert set(got) == {1, 2, 3}
    snip = {
        r.doc_id: r.snippet
        for r in snippets(docs, win, context=1).collect()
    }
    assert snip[1] == "then alpha beta tail"
    assert snip[2] == "beta only"
    # a no-match hit (vector-leg RRF row) keeps its row, NULL window
    fused = ranked.unionByName(
        spark.createDataFrame(
            [(0, 4, 9, 0.0)],
            "query_id long, doc_id long, rank long, bm25 double",
        )
    )
    wf = hit_windows(post, fused, q)
    r4 = [r for r in wf.collect() if r.doc_id == 4][0]
    assert r4.min_span is None and r4.span_start is None
    s4 = [
        r for r in snippets(docs, wf, context=1).collect()
        if r.doc_id == 4
    ][0]
    assert s4.snippet is None

    # grouped face: windows computed against the query's own group,
    # NULL group included
    gdocs = spark.createDataFrame(
        [
            ("en", 1, "alpha x beta"),
            ("de", 1, "beta alpha"),
            (None, 1, "alpha y y beta"),
        ],
        "lang string, doc_id long, text string",
    )
    gpost = inverted_index(gdocs, positions=True, group_col="lang")
    gstats = index_stats(gdocs, group_col="lang")
    gq = spark.createDataFrame(
        [("en", 0, "alpha beta"), ("de", 1, "alpha beta"),
         (None, 2, "alpha beta")],
        "lang string, query_id long, query string",
    )
    granked = bm25_topk(gpost, gq, gstats, k=5, group_col="lang")
    gwin = hit_windows(gpost, granked, gq, group_col="lang")
    ggot = {
        (r.lang, r.query_id): (r.min_span, r.span_start)
        for r in gwin.collect()
    }
    assert ggot[("en", 0)] == (3, 0)
    assert ggot[("de", 1)] == (2, 0)
    assert ggot[(None, 2)] == (4, 0)


@pytest.mark.slow
def test_grouped_bm25f_equals_per_group_runs(spark):
    """The grouped fielded face returns exactly what running the
    ungrouped fielded pipeline per group slice would — NULL group
    included — on both df paths, with per-group avgdl/N/df."""
    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
        fielded_term_stats,
    )

    docs = spark.createDataFrame(
        [
            ("en", 1, "spark guide", "rows and shuffles explained"),
            ("en", 2, "zebra manual", "spark spark broadcast join"),
            ("de", 1, "funke handbuch", "zeilen und spark mischen"),
            ("de", 2, "zebra zucht", "spark im titel nicht"),
            (None, 1, "untagged spark", "spark body here"),
            (None, 2, "other doc", "zebra grazing field"),
        ],
        "lang string, doc_id long, title string, body string",
    )
    fields = ["title", "body"]
    gpost = fielded_index(docs, fields, group_col="lang")
    gfst = field_stats(docs, fields, group_col="lang")
    gdfr = fielded_term_stats(gpost, group_col="lang")
    queries = spark.createDataFrame(
        [("en", 0, "spark zebra"), ("de", 1, "spark zebra"),
         (None, 2, "spark zebra")],
        "lang string, query_id long, query string",
    )
    weights = {"title": 2.0, "body": 1.0}
    skey = lambda t: (t[0] or "", *t[1:])  # noqa: E731 — None lang sorts

    for dfr in (None, gdfr):
        got = sorted(
            (
                (r.lang, r.query_id, r.doc_id, r.rank, round(r.bm25f, 7))
                for r in bm25f_topk(
                    gpost, queries, gfst, weights, k=5,
                    group_col="lang", dfreq=dfr,
                ).collect()
            ),
            key=skey,
        )
        want = []
        for lang in ("en", "de", None):
            cond = (
                F.col("lang").isNull()
                if lang is None
                else F.col("lang") == lang
            )
            sl = docs.filter(cond)
            sq = queries.filter(cond).select("query_id", "query")
            sp = fielded_index(sl, fields)
            sf = field_stats(sl, fields)
            sd = None if dfr is None else fielded_term_stats(sp)
            want += [
                (lang, r.query_id, r.doc_id, r.rank, round(r.bm25f, 7))
                for r in bm25f_topk(
                    sp, sq, sf, weights, k=5, dfreq=sd
                ).collect()
            ]
        assert got == sorted(want, key=skey)
    # the valve judges hotness against the query's own group: 'spark'
    # is in 2/2 en docs but 1/2 de docs... (title+body doc-grain: en
    # df=2, de df=2, None df=1 of 2 docs) — cut at 0.6 kills en+de
    valved = bm25f_topk(
        gpost, queries, gfst, weights, k=5,
        group_col="lang", dfreq=gdfr, max_df_frac=0.6,
    ).collect()
    # en/de keep only 'zebra' scoring; the None group keeps both terms
    assert all(r.bm25f > 0 for r in valved)


def test_grouped_advance_index_fielded_roll_forward(spark):
    """A grouped FIELDED index rolls forward: the fold signs the batch
    at (group, field) grain and replace anti-joins on (group, id) —
    advance ≡ full grouped rebuild of the final corpus."""
    docs = spark.createDataFrame(
        [
            ("en", 1, "spark title", "body one"),
            ("de", 1, "funke titel", "körper eins"),
            (None, 1, "untagged", "body"),
        ],
        "lang string, doc_id long, title string, body string",
    )
    batch = spark.createDataFrame(
        [
            ("en", 1, "rewritten title", "new body"),  # replaces en/1
            ("de", 2, "neuer titel", "zwei"),          # appends de/2
        ],
        "lang string, doc_id long, title string, body string",
    )
    from datamunging_spark.operators.retrieval import fielded_index

    fields = ["title", "body"]
    hist = fielded_index(docs, fields, group_col="lang")
    rolled = advance_index(
        hist, batch, fields=fields, group_col="lang", replace_ids=True
    )
    final = docs.filter(
        ~(F.col("lang").eqNullSafe("en") & (F.col("doc_id") == 1))
    ).unionByName(batch)
    want = fielded_index(final, fields, group_col="lang")
    nk = lambda t: (t[0] or "", *t[1:])  # noqa: E731 — NULL lang sorts
    assert sorted(map(tuple, rolled.collect()), key=nk) == sorted(
        map(tuple, want.collect()), key=nk
    )


@pytest.mark.slow
def test_streaming_index_ingest_positional(spark, tmp_path):
    """positions=True maintains a positional streamed store: the head
    reconstruction equals a full positional rebuild of the final
    corpus, and phrase/proximity search answer straight from it."""
    from datamunging_spark.operators.retrieval import (
        near_topk,
        phrase_topk,
    )
    from datamunging_spark.streaming import (
        read_index_version,
        streaming_index_ingest,
    )

    src = tmp_path / "pdocs_src"
    src.mkdir()
    schema = "doc_id long, text string"
    b1 = [(1, "alpha beta gamma"), (2, "alpha x beta")]
    b2 = [(3, "gamma alpha beta tail")]
    b3 = [(1, "beta alpha rewritten"), (4, "alpha y y beta")]
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    table = str(tmp_path / "pos_store")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    v = streaming_index_ingest(
        stream, table, checkpoint_path=str(tmp_path / "pos_ckpt"),
        positions=True,
    )
    assert v == 3
    head = read_index_version(spark, table)
    assert "positions" in head.columns
    final = spark.createDataFrame(
        [(2, "alpha x beta"), (3, "gamma alpha beta tail"),
         (1, "beta alpha rewritten"), (4, "alpha y y beta")], schema
    )
    want = inverted_index(final, positions=True)
    assert sorted(map(tuple, head.collect())) == sorted(
        map(tuple, want.collect())
    )
    q = spark.createDataFrame(
        [(0, "alpha beta")], "query_id long, query string"
    )
    hits = {r.doc_id: r.phrase_freq
            for r in phrase_topk(head, q, k=10).collect()}
    # adjacent "alpha beta": doc 3 only (doc 2 has 'alpha x beta',
    # doc 1 reversed, doc 4 gapped)
    assert hits == {3: 1}
    prox = {r.doc_id: r.min_span
            for r in near_topk(head, q, k=10, slop=2).collect()}
    assert prox == {1: 2, 2: 3, 3: 2, 4: 4}


@pytest.mark.slow
def test_streaming_index_ingest_grouped(spark, tmp_path):
    """A grouped streamed store folds at (group, id) grain: an update
    replaces only its own group's postings (NULL group included), the
    head equals a full grouped rebuild, per-group stats ride the fold
    with stats == stats_from_postings at the head, and the grouped
    bm25 face queries the store directly."""
    from datamunging_spark.sources.versioned import read_table_version
    from datamunging_spark.streaming import (
        read_index_version,
        streaming_index_ingest,
    )

    src = tmp_path / "gdocs_src"
    src.mkdir()
    schema = "lang string, doc_id long, text string"
    b1 = [("en", 1, "spark rows fast"), ("de", 1, "funken zeilen"),
          (None, 1, "untagged text")]
    b2 = [("en", 2, "broadcast join"), (None, 2, "more untagged")]
    # updates en/1 and the NULL-group doc 1; de/1 untouched
    b3 = [("en", 1, "rewritten english"), (None, 1, "rewritten untagged")]
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    table = str(tmp_path / "grp_store")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    v = streaming_index_ingest(
        stream, table, checkpoint_path=str(tmp_path / "grp_ckpt"),
        group_col="lang",
    )
    assert v == 3
    head = read_index_version(spark, table, id_col=["lang", "doc_id"])
    final = spark.createDataFrame(
        [("de", 1, "funken zeilen"), ("en", 2, "broadcast join"),
         (None, 2, "more untagged"), ("en", 1, "rewritten english"),
         (None, 1, "rewritten untagged")], schema
    )
    nk = lambda t: (t[0] or "", *t[1:])  # noqa: E731
    assert sorted(map(tuple, head.collect()), key=nk) == sorted(
        map(tuple, inverted_index(final, group_col="lang").collect()),
        key=nk,
    )
    # per-group stats invariant at the head
    st = read_table_version(spark, table + "_stats", v)
    want_st = stats_from_postings(head, group_col="lang")
    assert sorted(
        map(tuple, st.collect()), key=nk
    ) == sorted(map(tuple, want_st.collect()), key=nk)
    # grouped query straight off the store
    q = spark.createDataFrame(
        [("en", 0, "rewritten"), (None, 1, "rewritten")],
        "lang string, query_id long, query string",
    )
    hits = bm25_topk(head, q, st, k=5, group_col="lang").collect()
    got = {(r.lang, r.query_id): r.doc_id for r in hits}
    assert got == {("en", 0): 1, (None, 1): 1}
    # collision guard is (group, id)-scoped: same doc_id in two groups
    # within one batch is NOT a collision
    src2 = tmp_path / "gsrc2"
    src2.mkdir()
    spark.createDataFrame(
        [("en", 7, "one"), ("de", 7, "zwei")], schema
    ).coalesce(1).write.parquet(str(src2 / "f0"))
    s2 = spark.readStream.schema(schema).parquet(str(src2) + "/*")
    assert streaming_index_ingest(
        s2, str(tmp_path / "grp2"),
        checkpoint_path=str(tmp_path / "grp2_ckpt"), group_col="lang",
    ) == 1


@pytest.mark.slow
def test_prf_expand_planted_recall_gain(spark):
    """PRF pulls vocabulary from the top hits: the expanded query
    retrieves a planted doc that shares NO term with the original
    query; expansion excludes the query's own terms, respects
    fb_terms, and a no-hit query expands to itself."""
    from datamunging_spark.operators.retrieval import prf_expand

    docs = spark.createDataFrame(
        [
            (1, "alpha bridge uniq1a uniq1b"),
            (2, "alpha bridge uniq2a uniq2b"),
            (3, "alpha bridge uniq3a uniq3b"),
            (4, "bridge gamma target doc"),  # no 'alpha'
        ]
        + [(i, f"filler{i} pad{i} stuff{i}") for i in range(5, 21)],
        "doc_id long, text string",
    )
    post, stats = inverted_index(docs), index_stats(docs)
    dfr = term_stats(post)
    q = spark.createDataFrame(
        [(0, "alpha"), (1, "zzz-unseen")],
        "query_id long, query string",
    )
    exp = prf_expand(
        post, q, stats, fb_docs=3, fb_terms=2, dfreq=dfr
    )
    rows = {r.query_id: r for r in exp.collect()}
    # original text is a prefix; own terms never re-added
    assert rows[0].expanded_query.startswith("alpha ")
    added = rows[0].expanded_query.split()[1:]
    assert "alpha" not in added and len(added) == 2
    # 'bridge' is in every feedback doc AND corpus-rare (df 4/20):
    # summed tf.idf beats any single-doc unique term
    assert "bridge" in added
    # the no-hit query passes through unchanged
    assert rows[1].expanded_query == "zzz-unseen"
    # recall gain: doc 4 has no 'alpha', appears only after expansion
    before = {
        r.doc_id
        for r in bm25_topk(post, q, stats, k=10).collect()
        if r.query_id == 0
    }
    assert 4 not in before
    q2 = exp.select(
        "query_id", F.col("expanded_query").alias("query")
    )
    after = {
        r.doc_id
        for r in bm25_topk(post, q2, stats, k=10).collect()
        if r.query_id == 0
    }
    assert 4 in after
    # deterministic under repartition
    exp2 = prf_expand(
        post.repartition(7), q, stats, fb_docs=3, fb_terms=2, dfreq=dfr
    )
    assert sorted(map(tuple, exp.collect())) == sorted(
        map(tuple, exp2.collect())
    )
    # on-the-fly df path agrees with the precomputed one
    exp3 = prf_expand(post, q, stats, fb_docs=3, fb_terms=2)
    assert sorted(map(tuple, exp3.collect())) == sorted(
        map(tuple, exp.collect())
    )


def _py_min_cover(toks, terms):
    """Brute-force reference: smallest window of toks covering every
    term in `terms` (all present by precondition); returns
    (span, start) of the FIRST minimal window in scan order."""
    best = None
    n = len(toks)
    for i in range(n):
        seen = set()
        for j in range(i, n):
            if toks[j] in terms:
                seen.add(toks[j])
            if seen == terms:
                if best is None or (j - i + 1) < best[0]:
                    best = (j - i + 1, i)
                break
    return best


def test_hit_windows_matches_python_reference(spark):
    """Randomized cross-check: hit_windows' covering window equals a
    brute-force python scan over every (query, hit-doc) pair,
    including partial matches (window covers the PRESENT terms)."""
    import random

    rng = random.Random(1414)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(40)
    ]
    queries = [
        (qid, " ".join(rng.sample(vocab, rng.randint(1, 3))))
        for qid in range(6)
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    post = inverted_index(ddf, positions=True)
    ranked = bm25_topk(post, qdf, index_stats(ddf), k=8)
    from datamunging_spark.operators.retrieval import hit_windows

    got = {
        (r.query_id, r.doc_id): (r.n_terms, r.min_span, r.span_start)
        for r in hit_windows(post, ranked, qdf).collect()
    }
    toks_by_id = {i: t.split() for i, t in docs}
    q_by_id = {qid: set(q.split()) for qid, q in queries}
    assert got  # the fixture must produce hits
    for (qid, did), (n_terms, span, start) in got.items():
        toks = toks_by_id[did]
        present = q_by_id[qid] & set(toks)
        assert n_terms == len(present) and present
        want = _py_min_cover(toks, present)
        assert (span, start) == want, (qid, did, present)


@pytest.mark.slow
def test_bm25_term_boosts_and_weighted_prf(spark):
    """term_boosts scales per-(query, term) contributions: an all-1.0
    table is byte-identical to unboosted, a hand-computed boost moves
    the score exactly, and prf_expand(return_terms=True) feeds the
    RM3-style weighted search (expansion capped at beta, original
    terms implicit 1.0)."""
    from datamunging_spark.operators.retrieval import prf_expand

    docs = spark.createDataFrame(
        [
            (1, "alpha bridge uniq1a uniq1b"),
            (2, "alpha bridge uniq2a uniq2b"),
            (3, "alpha bridge uniq3a uniq3b"),
            (4, "bridge gamma target doc"),
        ]
        + [(i, f"filler{i} pad{i} stuff{i}") for i in range(5, 21)],
        "doc_id long, text string",
    )
    post, stats = inverted_index(docs), index_stats(docs)
    q = spark.createDataFrame(
        [(0, "alpha gamma")], "query_id long, query string"
    )
    base = {
        r.doc_id: r.bm25 for r in bm25_topk(post, q, stats, k=10).collect()
    }
    ones = spark.createDataFrame(
        [(0, "alpha", 1.0), (0, "gamma", 1.0)],
        "query_id long, term string, boost double",
    )
    same = {
        r.doc_id: r.bm25
        for r in bm25_topk(
            post, q, stats, k=10, term_boosts=ones
        ).collect()
    }
    assert same == base
    # hand-math: doubling 'gamma' doubles exactly its contribution on
    # doc 4 (which matches both terms... only gamma: doc 4 has no alpha)
    boosted = spark.createDataFrame(
        [(0, "gamma", 2.0)], "query_id long, term string, boost double"
    )
    got = {
        r.doc_id: r.bm25
        for r in bm25_topk(
            post, q, stats, k=10, term_boosts=boosted
        ).collect()
    }
    assert got[4] == pytest.approx(2.0 * base[4], abs=1e-6)
    # docs matching only 'alpha' are untouched
    assert got[1] == pytest.approx(base[1], abs=1e-9)

    # weighted PRF: expansion terms come back with boost in (0, beta],
    # the top term exactly beta; feeding text+boosts surfaces doc 4
    # for the 'alpha' query without letting expansion out-vote alpha
    q1 = spark.createDataFrame(
        [(0, "alpha")], "query_id long, query string"
    )
    exp = prf_expand(
        post, q1, stats, fb_docs=3, fb_terms=2,
        return_terms=True, beta=0.4,
    )
    # ONE call carries both faces: expanded text + (term, boost) structs
    row = exp.collect()[0]
    assert row.expanded_query.startswith("alpha ")
    trows = sorted((b.term, round(b.boost, 6)) for b in row.boosts)
    assert all(0 < b <= 0.4 for _, b in trows)
    assert max(b for _, b in trows) == pytest.approx(0.4)
    # boosted terms == the appended text terms
    assert {t for t, _ in trows} == set(row.expanded_query.split()[1:])
    terms = exp.select(
        "query_id", F.explode("boosts").alias("_b")
    ).select("query_id", "_b.term", "_b.boost")
    q2 = exp.select(
        "query_id", F.col("expanded_query").alias("query")
    )
    weighted = bm25_topk(post, q2, stats, k=10, term_boosts=terms)
    wd = {r.doc_id: (r.rank, r.bm25) for r in weighted.collect()}
    assert 4 in wd  # expansion vocabulary reached doc 4
    # alpha-bearing docs still outrank the expansion-only doc 4
    assert all(wd[d][0] < wd[4][0] for d in (1, 2, 3))


@pytest.mark.slow
def test_streaming_index_grouped_flag_flip_refuses(spark, tmp_path):
    """The grouped face is schema-authoritative: re-folding a grouped
    store without group_col (or an ungrouped store with one) fails
    loudly instead of silently degrading the store."""
    from datamunging_spark.streaming import streaming_index_ingest

    schema = "lang string, doc_id long, text string"
    src = tmp_path / "ff_src"
    src.mkdir()
    spark.createDataFrame(
        [("en", 1, "one doc"), ("de", 1, "zwei doc")], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    table = str(tmp_path / "ff_store")
    s1 = spark.readStream.schema(schema).parquet(str(src) + "/*")
    assert streaming_index_ingest(
        s1, table, checkpoint_path=str(tmp_path / "ff_c1"),
        group_col="lang",
    ) == 1
    spark.createDataFrame(
        [("en", 2, "more text")], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    s2 = spark.readStream.schema(schema).parquet(str(src) + "/*")
    with pytest.raises(Exception, match="GROUPED store"):
        streaming_index_ingest(
            s2, table, checkpoint_path=str(tmp_path / "ff_c2")
        )
    # and the converse: an ungrouped store refuses a group_col fold
    usrc = tmp_path / "ff_usrc"
    usrc.mkdir()
    spark.createDataFrame(
        [("en", 1, "one doc"), ("de", 2, "zwei doc")], schema
    ).coalesce(1).write.parquet(str(usrc / "f0"))
    utable = str(tmp_path / "ff_ustore")
    s3 = spark.readStream.schema(schema).parquet(str(usrc) + "/*")
    assert streaming_index_ingest(
        s3, utable, checkpoint_path=str(tmp_path / "ff_c3")
    ) == 1
    spark.createDataFrame(
        [("en", 9, "late")], schema
    ).coalesce(1).write.parquet(str(usrc / "f1"))
    s4 = spark.readStream.schema(schema).parquet(str(usrc) + "/*")
    with pytest.raises(Exception, match="no such column|not a grouped"):
        streaming_index_ingest(
            s4, utable, checkpoint_path=str(tmp_path / "ff_c4"),
            group_col="lang",
        )


@pytest.mark.slow
def test_boolean_msm_valve_matches_python_reference(spark):
    """Randomized cross-check of the valve×msm interplay: hot terms
    (df > frac·N) leave ALL roles, msm degrades per query by the
    number of should terms the valve removed (floored at 0; no-must
    fallback still demands ≥1), survivors score BM25 over matched
    must+should — engine == a pure-Python reference on both df paths."""
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from datamunging_spark.operators.retrieval import boolean_topk

    rng = random.Random(1441)
    vocab = [f"t{i}" for i in range(14)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12))))
        for i in range(30)
    ]
    toks = {i: t.split() for i, t in rows}
    n_docs = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    df: dict = {}
    for ws in toks.values():
        for w in set(ws):
            df[w] = df.get(w, 0) + 1
    qdefs = [
        (
            qid,
            " ".join(rng.sample(vocab, rng.randint(0, 2))) or None,
            " ".join(rng.sample(vocab, rng.randint(1, 4))),
            " ".join(rng.sample(vocab, rng.randint(0, 1))) or None,
        )
        for qid in range(8)
    ]
    frac, msm, k1, b, k = 0.35, 2, 1.2, 0.75, 8
    q7 = Decimal("0.0000001")
    hot = {w for w, d in df.items() if d > frac * n_docs}
    want = []
    for qid, must, should, must_not in qdefs:
        m0 = {w for w in (must or "").split() if w}
        s0 = {w for w in (should or "").split() if w}
        x0 = {w for w in (must_not or "").split() if w}
        m, s, x = m0 - hot, s0 - hot, x0 - hot
        msm_eff = max(0, msm - len(s0 & hot))
        scored = []
        for did, ws in toks.items():
            wset = set(ws)
            if x & wset:
                continue
            nm = len(m & wset)
            ns = len(s & wset)
            if m:
                if nm < len(m) or ns < msm_eff:
                    continue
            elif ns < max(1, msm_eff):
                continue
            total = Decimal(0)
            for term in (m | s) & wset:
                idf = math.log(
                    1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5)
                )
                tf = ws.count(term)
                tfn = (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * (len(ws) / avgdl))
                )
                total += Decimal(repr(idf * tfn)).quantize(
                    q7, ROUND_HALF_UP
                )
            scored.append((did, nm, ns, total))
        scored.sort(key=lambda t: (-t[3], t[0]))
        want += [
            (qid, did, r + 1, nm, ns, float(t))
            for r, (did, nm, ns, t) in enumerate(scored[:k])
        ]

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q = spark.createDataFrame(
        qdefs, "query_id long, must string, should string, must_not string"
    )
    post, stats = inverted_index(docs), index_stats(docs)
    for dfr in (None, term_stats(post)):
        got = sorted(
            (r.query_id, r.doc_id, r.rank, r.n_must, r.n_should, r.bm25)
            for r in boolean_topk(
                post, q, stats, k=k, dfreq=dfr,
                max_df_frac=frac, min_should_match=msm,
            ).collect()
        )
        assert got == sorted(want), ("dfreq" if dfr else "on-the-fly")


def test_snippets_grouped_face_cuts_from_own_group(spark):
    """snippets(group_col=) joins docs on (group, id) NULL-safely: with
    doc ids that collide across groups (the grouped-index norm), each
    hit's snippet comes from ITS group's document — an id-only join
    would fan hits across groups and cut from the wrong text."""
    from datamunging_spark.operators.retrieval import (
        hit_windows,
        snippets,
    )

    gdocs = spark.createDataFrame(
        [
            ("en", 1, "alpha beta english tail"),
            ("de", 1, "vorspann alpha beta deutsch"),
            (None, 1, "null group alpha beta words"),
        ],
        "lang string, doc_id long, text string",
    )
    gpost = inverted_index(gdocs, positions=True, group_col="lang")
    gstats = index_stats(gdocs, group_col="lang")
    gq = spark.createDataFrame(
        [("en", 0, "alpha beta"), ("de", 1, "alpha beta"),
         (None, 2, "alpha beta")],
        "lang string, query_id long, query string",
    )
    ranked = bm25_topk(gpost, gq, gstats, k=5, group_col="lang")
    win = hit_windows(gpost, ranked, gq, group_col="lang")
    out = snippets(gdocs, win, context=0, group_col="lang")
    got = {
        (r.lang, r.query_id): r.snippet for r in out.collect()
    }
    assert got[("en", 0)] == "alpha beta"
    assert got[("de", 1)] == "alpha beta"
    assert got[(None, 2)] == "alpha beta"
    # exactly one snippet row per hit — no cross-group fan-out
    assert out.count() == win.count()


@pytest.mark.slow
def test_positional_guard_default_armed_with_stats(spark):
    """Passing stats AND dfreq WITHOUT max_df_frac default-arms the
    warn tier at 0.5 (an operator who wired the index-build artifacts
    gets hot-term visibility without opting in, and the check is
    broadcast-sized); results are unchanged; stats alone (no dfreq)
    or stats=None keep the guard fully off — no hidden postings scan
    at construction time (r16)."""
    import warnings

    from datamunging_spark.operators.retrieval import (
        near_topk,
        phrase_topk,
        term_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "the spark engine"),
            (2, "the fast plan"),
            (3, "the wide shuffle"),
            (4, "zebra stampede here"),
        ],
        "doc_id long, text string",
    )
    post = inverted_index(docs, positions=True)
    stats = index_stats(docs)
    dfr = term_stats(post)
    hot_q = spark.createDataFrame(
        [(0, "the spark")], "query_id long, query string"
    )
    for op in (phrase_topk, near_topk):
        bare = op(post, hot_q).collect()
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            armed = op(post, hot_q, stats=stats, dfreq=dfr).collect()
        assert any("max_df_frac" in str(x.message) for x in w)
        assert armed == bare
        # no stats → no guard, no warning
        with warnings.catch_warnings(record=True) as w2:
            warnings.simplefilter("always")
            op(post, hot_q).collect()
        assert not any(
            "max_df_frac" in str(x.message) for x in w2
        )
        # stats WITHOUT dfreq: the default stays off (r16 — auto-arming
        # here would run an eager corpus-grain postings aggregate plus
        # a driver collect at every query construction; the caller can
        # still opt in with an explicit max_df_frac)
        with warnings.catch_warnings(record=True) as w3:
            warnings.simplefilter("always")
            stats_only = op(post, hot_q, stats=stats).collect()
        assert not any(
            "max_df_frac" in str(x.message) for x in w3
        )
        assert stats_only == bare
        # explicit max_df_frac still gets the raise tier by default
        import pytest as _pytest

        with _pytest.raises(ValueError, match="'the'"):
            op(post, hot_q, stats=stats, dfreq=dfr, max_df_frac=0.5)


def test_streaming_ingest_names_fielded_store_in_error(
    spark, tmp_path
):
    """Pointing streaming_index_ingest at a FIELDED index store says
    so — the generic 'grouped store?' hint was misleading when the
    extra column is the fielded layout's ``field``."""
    from datamunging_spark.sources.versioned import write_table_version
    from datamunging_spark.streaming import streaming_index_ingest

    docs = spark.createDataFrame(
        [(1, "title words", "body words here")],
        "doc_id long, title string, body string",
    )
    from datamunging_spark.operators.retrieval import fielded_index

    table = str(tmp_path / "fielded_store")
    write_table_version(
        fielded_index(docs, ["title", "body"]), table, 1
    )
    schema = "doc_id long, text string"
    src = tmp_path / "fi_src"
    src.mkdir()
    spark.createDataFrame(
        [(2, "plain doc")], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    s = spark.readStream.schema(schema).parquet(str(src) + "/*")
    with pytest.raises(Exception, match="FIELDED index"):
        streaming_index_ingest(
            s, table, checkpoint_path=str(tmp_path / "fi_ck")
        )


def _postfilter_rerank(rows, allowed, key, k, asc=False):
    """Reference for the filter_ids contract: post-filter an
    EXHAUSTIVE (k=corpus) unfiltered run to the allowed ids and
    recompute ranks — corpus-level stats mean the scores must match
    the filtered run exactly."""
    out = []
    byq = {}
    for r in rows:
        byq.setdefault(r.query_id, []).append(r)
    for qid, rs in byq.items():
        kept = [r for r in rs if r.doc_id in allowed]
        kept.sort(
            key=lambda r: (
                key(r) if asc else -key(r),
                r.doc_id,
            )
        )
        for i, r in enumerate(kept[:k]):
            out.append((qid, r.doc_id, i + 1, key(r)))
    return sorted(out)


def test_bm25_filter_ids_fills_k_with_corpus_stats(spark):
    """bm25_topk(filter_ids=): allowed docs score IDENTICALLY to the
    unfiltered run (corpus-level df/N/avgdl — the Lucene filter-query
    contract) and k fills from the allowed sub-corpus where a naive
    post-filter of the top-k under-fills."""
    docs = spark.createDataFrame(
        [
            (1, "spark rows fast fast fast"),
            (2, "spark rows fast fast"),
            (3, "spark rows fast"),
            (4, "spark rows"),
            (5, "spark shuffle"),
            (6, "zebra herd"),
        ],
        "doc_id long, text string",
    )
    post = inverted_index(docs)
    stats = index_stats(docs)
    dfr = term_stats(post)
    q = spark.createDataFrame(
        [(10, "spark fast"), (11, "rows")],
        "query_id long, query string",
    )
    flt = spark.createDataFrame([(4,), (5,), (6,)], "doc_id long")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25)
        for r in bm25_topk(post, q, stats, k=2, filter_ids=flt).collect()
    )
    full = bm25_topk(post, q, stats, k=10).collect()
    want = _postfilter_rerank(full, {4, 5, 6}, lambda r: r.bm25, 2)
    assert got == want
    # k FILLS from the allowed set: the unfiltered top-2 for q10 is
    # docs {1, 2} — post-filtering the top-2 yields NOTHING, the
    # filtered run still returns 2 hits per matching query
    top2 = [r for r in full if r.query_id == 10 and r.rank <= 2]
    assert {r.doc_id for r in top2} == {1, 2}
    assert len([t for t in got if t[0] == 10]) == 2
    # precomputed-dfreq path agrees with the convenience path
    got_df = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25)
        for r in bm25_topk(
            post, q, stats, k=2, dfreq=dfr, filter_ids=flt
        ).collect()
    )
    assert got_df == got
    # malformed filter tables fail fast
    with pytest.raises(ValueError, match="one-column"):
        bm25_topk(
            post, q, stats, filter_ids=docs.select("doc_id", "text")
        )


def test_grouped_bm25_filter_ids_matches_per_slice(spark):
    """The grouped filtered face == per-slice filtered runs, with doc
    ids that COLLIDE across groups ((group, id) filter table, NULL
    group included); a bare one-column filter on a grouped search
    cuts that id in EVERY group."""
    docs = spark.createDataFrame(
        [
            (1, "en", "spark rows fast"),
            (2, "en", "spark broadcast join"),
            (1, "de", "spark schnell zeilen"),
            (2, "de", "zeilen zeilen puffer"),
            (1, None, "spark mystery rows"),
            (2, None, "spark plain rows"),
        ],
        "doc_id long, lang string, text string",
    )
    post = inverted_index(docs, group_col="lang")
    stats = index_stats(docs, group_col="lang")
    q = spark.createDataFrame(
        [(10, "en", "spark"), (11, "de", "zeilen"), (12, None, "rows")],
        "query_id long, lang string, query string",
    )
    flt = spark.createDataFrame(
        [("en", 2), ("de", 2), (None, 2)], "lang string, doc_id long"
    )
    got = sorted(
        (r.query_id, r.lang, r.doc_id, r.rank, r.bm25)
        for r in bm25_topk(
            post, q, stats, k=5, group_col="lang", filter_ids=flt
        ).collect()
    )
    want = []
    for lang, qid in (("en", 10), ("de", 11), (None, 12)):
        cond = (
            F.col("lang").isNull()
            if lang is None
            else F.col("lang") == lang
        )
        sl = docs.filter(cond)
        qs = q.filter(F.col("query_id") == qid).select(
            "query_id", "query"
        )
        one = spark.createDataFrame([(2,)], "doc_id long")
        for r in bm25_topk(
            inverted_index(sl), qs, index_stats(sl), k=5,
            filter_ids=one,
        ).collect():
            want.append((r.query_id, lang, r.doc_id, r.rank, r.bm25))
    assert got == sorted(want)
    assert {t[2] for t in got} == {2}
    # bare one-column filter on the grouped face: id 1 cut everywhere
    bare = sorted(
        (r.query_id, r.doc_id)
        for r in bm25_topk(
            post, q, stats, k=5, group_col="lang",
            filter_ids=spark.createDataFrame([(2,)], "doc_id long"),
        ).collect()
    )
    assert bare == sorted((t[0], t[2]) for t in got)
    # (group, id) filter with extra columns fails fast
    with pytest.raises(ValueError, match="exactly one id column"):
        bm25_topk(
            post, q, stats, group_col="lang",
            filter_ids=docs.select("lang", "doc_id", "text"),
        )


@pytest.mark.slow
def test_filter_ids_on_boolean_phrase_near_bm25f(spark):
    """Every lexical search face honors the same filter_ids contract:
    filtered run == post-filter re-rank of an exhaustive unfiltered
    run (corpus-level stats), per operator sort order."""
    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        boolean_topk,
        field_stats,
        fielded_index,
        near_topk,
        phrase_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark rows fast spark rows"),
            (2, "spark rows fast"),
            (3, "fast rows spark"),
            (4, "spark alone"),
            (5, "rows alone fast"),
        ],
        "doc_id long, text string",
    )
    allowed = {2, 3, 5}
    flt = spark.createDataFrame([(i,) for i in allowed], "doc_id long")
    post = inverted_index(docs)
    ppost = inverted_index(docs, positions=True)
    stats = index_stats(docs)

    bq = spark.createDataFrame(
        [(20, "rows", "fast spark", "")],
        "query_id long, must string, should string, must_not string",
    )
    got_b = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25)
        for r in boolean_topk(
            post, bq, stats, k=2, filter_ids=flt
        ).collect()
    )
    want_b = _postfilter_rerank(
        boolean_topk(post, bq, stats, k=10).collect(),
        allowed, lambda r: r.bm25, 2,
    )
    assert got_b == want_b

    pq = spark.createDataFrame(
        [(30, "spark rows")], "query_id long, query string"
    )
    got_p = sorted(
        (r.query_id, r.doc_id, r.rank, r.phrase_freq)
        for r in phrase_topk(ppost, pq, k=2, filter_ids=flt).collect()
    )
    want_p = _postfilter_rerank(
        phrase_topk(ppost, pq, k=10).collect(),
        allowed, lambda r: r.phrase_freq, 2,
    )
    assert got_p == want_p
    assert got_p and {t[1] for t in got_p} <= allowed

    got_n = sorted(
        (r.query_id, r.doc_id, r.rank, r.min_span)
        for r in near_topk(
            ppost, pq, k=2, slop=1, filter_ids=flt
        ).collect()
    )
    want_n = _postfilter_rerank(
        near_topk(ppost, pq, k=10, slop=1).collect(),
        allowed, lambda r: r.min_span, 2, asc=True,
    )
    assert got_n == want_n

    fdocs = docs.select(
        "doc_id", F.col("text").alias("body"),
        F.split("text", " ").getItem(0).alias("title"),
    )
    weights = {"title": 2.0, "body": 1.0}
    fpost = fielded_index(fdocs, ["title", "body"])
    fstats = field_stats(fdocs, ["title", "body"])
    got_f = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25f)
        for r in bm25f_topk(
            fpost, pq, fstats, weights, k=2, filter_ids=flt
        ).collect()
    )
    want_f = _postfilter_rerank(
        bm25f_topk(fpost, pq, fstats, weights, k=10).collect(),
        allowed, lambda r: r.bm25f, 2,
    )
    assert got_f == want_f


@pytest.mark.slow
def test_filter_ids_on_more_like_this_and_prf_expand(spark):
    """more_like_this(filter_ids=) constrains what can be RETRIEVED
    (term selection and df stay corpus-level — post-filter re-rank
    pin; sources need not be in the filter); prf_expand(filter_ids=)
    mines feedback from the allowed sub-corpus only, so an excluded
    top hit's distinctive vocabulary never enters the expansion."""
    from datamunging_spark.operators.retrieval import (
        more_like_this,
        prf_expand,
    )

    docs = spark.createDataFrame(
        [
            (1, "zebra stampede crosses river"),
            (2, "zebra stampede near river delta"),
            (3, "zebra stampede watering river bend"),
            (4, "broadcast join shuffle plan"),
            (5, "unrelated text entirely here"),
        ],
        "doc_id long, text string",
    )
    post, stats = inverted_index(docs), index_stats(docs)
    ids = spark.createDataFrame([(1,)], "doc_id long")
    allowed = {3, 4, 5}
    flt = spark.createDataFrame([(i,) for i in allowed], "doc_id long")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25)
        for r in more_like_this(
            post, ids, stats, k=2, filter_ids=flt
        ).collect()
    )
    want = _postfilter_rerank(
        more_like_this(post, ids, stats, k=10).collect(),
        allowed, lambda r: r.bm25, 2,
    )
    assert got == want
    # source doc 1 is OUTSIDE the filter yet still asks; its zebra
    # twin 2 is excluded, so the allowed zebra doc 3 leads
    assert got[0][1] == 3

    q = spark.createDataFrame(
        [(50, "zebra stampede")], "query_id long, query string"
    )
    # unfiltered: doc 2 ("delta") is a top feedback doc; filter it out
    exp_flt = spark.createDataFrame(
        [(1,), (3,), (4,), (5,)], "doc_id long"
    )
    terms_all = prf_expand(
        post, q, stats, fb_docs=2, fb_terms=8, return_terms=True,
    )
    terms_cut = prf_expand(
        post, q, stats, fb_docs=2, fb_terms=8, return_terms=True,
        filter_ids=exp_flt,
    )
    t_all = {b.term for r in terms_all.collect() for b in r.boosts}
    t_cut = {b.term for r in terms_cut.collect() for b in r.boosts}
    assert "delta" in t_all  # doc 2's distinctive term
    assert "delta" not in t_cut  # excluded doc can't seed expansion
    assert "watering" in t_cut or "bend" in t_cut  # doc 3 feeds it


def _nsort(rows):
    """Sort tuples whose second element may be None (the NULL group)."""
    return sorted(rows, key=lambda t: (t[0], t[1] is not None, t[1] or ""))


@pytest.mark.slow
def test_grouped_mlt_prf_spell_equal_per_slice_runs(spark):
    """The grouped faces of more_like_this / prf_expand /
    spell_suggest == per-slice ungrouped runs — colliding doc ids
    across groups, NULL group included; suggestions/expansion/
    neighbors never cross a group boundary."""
    from datamunging_spark.operators.retrieval import (
        more_like_this,
        prf_expand,
        spell_suggest,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "zebra stampede crosses river"),
            (2, "en", "zebra stampede near river delta"),
            (3, "en", "broadcast join shuffle plan"),
            (1, "de", "zebra herde fluss ufer"),
            (2, "de", "zebra herde nahe fluss"),
            (3, "de", "schnelle zeilen puffer"),
            (1, None, "mystery zebra walks alone"),
            (2, None, "mystery zebra walks around"),
        ],
        "doc_id long, lang string, text string",
    )
    post = inverted_index(docs, group_col="lang")
    stats = index_stats(docs, group_col="lang")
    dfr = term_stats(post, group_col="lang")

    def slices():
        for lang in ("en", "de", None):
            cond = (
                F.col("lang").isNull()
                if lang is None
                else F.col("lang") == lang
            )
            yield lang, docs.filter(cond)

    # --- more_like_this: doc id 1 exists in EVERY group
    ids = spark.createDataFrame(
        [("en", 1), ("de", 1), (None, 1)], "lang string, doc_id long"
    )
    got = _nsort(
        (r.query_id, r.lang, r.doc_id, r.rank, r.bm25)
        for r in more_like_this(
            post, ids, stats, k=2, group_col="lang", dfreq=dfr
        ).collect()
    )
    want = []
    for lang, sl in slices():
        one = spark.createDataFrame([(1,)], "doc_id long")
        for r in more_like_this(
            inverted_index(sl), one, index_stats(sl), k=2
        ).collect():
            want.append((r.query_id, lang, r.doc_id, r.rank, r.bm25))
    assert got == _nsort(want)
    # neighbors stay in-group: every group's nearest doc-1 twin is
    # its own doc 2
    assert {(t[1], t[2]) for t in got if t[3] == 1} == {
        ("en", 2), ("de", 2), (None, 2),
    }
    # convenience df path agrees
    fly = _nsort(
        (r.query_id, r.lang, r.doc_id, r.rank, r.bm25)
        for r in more_like_this(
            post, ids, stats, k=2, group_col="lang"
        ).collect()
    )
    assert fly == got

    # --- prf_expand: globally-unique query ids, expansion per group
    q = spark.createDataFrame(
        [(10, "en", "zebra stampede"), (11, "de", "zebra herde"),
         (12, None, "mystery zebra")],
        "query_id long, lang string, query string",
    )
    gexp = {
        r.query_id: (r.lang, r.expanded_query)
        for r in prf_expand(
            post, q, stats, fb_docs=2, fb_terms=4, group_col="lang",
            dfreq=dfr,
        ).collect()
    }
    for lang, qid in (("en", 10), ("de", 11), (None, 12)):
        cond = (
            F.col("lang").isNull()
            if lang is None
            else F.col("lang") == lang
        )
        sl = docs.filter(cond)
        qs = q.filter(F.col("query_id") == qid).select(
            "query_id", "query"
        )
        [want_r] = prf_expand(
            inverted_index(sl), qs, index_stats(sl), fb_docs=2,
            fb_terms=4,
        ).collect()
        assert gexp[qid] == (lang, want_r.expanded_query)
    # de expansion vocabulary is German only
    assert "river" not in gexp[11][1]

    # --- spell_suggest: same typo, per-group vocabulary
    terms = spark.createDataFrame(
        [("en", "zebr"), ("de", "zebr"), (None, "zebr"),
         ("en", "rivr"), ("de", "flus")],
        "lang string, term string",
    )
    gsug = _nsort(
        (r.term, r.lang, r.suggestion, r.distance, r.df, r.rank)
        for r in spell_suggest(
            dfr, terms, k=2, group_col="lang"
        ).collect()
    )
    want_s = []
    for lang, sl in slices():
        cond = (
            F.col("lang").isNull()
            if lang is None
            else F.col("lang") == lang
        )
        tq = terms.filter(cond).select("term")
        for r in spell_suggest(
            term_stats(inverted_index(sl)), tq, k=2
        ).collect():
            want_s.append(
                (r.term, lang, r.suggestion, r.distance, r.df, r.rank)
            )
    assert gsug == _nsort(want_s)
    # "rivr" finds river in en only; "flus" finds fluss in de only
    assert ("rivr", "en", "river", 1, 2, 1) in gsug
    assert not [t for t in gsug if t[0] == "rivr" and t[1] != "en"]
    assert ("flus", "de", "fluss", 1, 2, 1) in gsug


def test_index_health_hand_math_and_grouped(spark):
    """Closed-form health report over the 4-doc fixture, the
    hot-terms face as a candidate stop list, and the grouped face."""
    from datamunging_spark.operators.retrieval import index_health

    docs = _docs(spark)
    post = inverted_index(docs)
    stats = index_stats(docs)
    [h] = index_health(post, stats).collect()
    # vocabulary: spark(2) shuffles rows fast broadcast join zebra
    # stampede (1 each) over 4 docs (one empty)
    assert (h.n_terms, h.n_postings, h.max_df) == (8, 9, 2)
    assert abs(h.mean_df - 9 / 8) < 1e-12
    assert (h.n_docs, h.max_df_frac) == (4, 0.5)
    hot = index_health(post, stats, hot_terms=2).collect()
    assert [(r.term, r.df, r.df_frac, r.rank) for r in hot] == [
        ("spark", 2, 0.5, 1),
        ("broadcast", 1, 0.25, 2),
    ]
    # dfreq reuse path agrees; no-stats face drops the doc columns
    [h2] = index_health(post, stats, dfreq=term_stats(post)).collect()
    assert (h2.n_terms, h2.max_df_frac) == (8, 0.5)
    [bare] = index_health(post).collect()
    assert "n_docs" not in bare.asDict()
    # grouped: per-group rows incl. NULL group, per-group n_docs
    gdocs = _grouped_docs(spark)
    gp = inverted_index(gdocs, group_col="lang")
    gs = index_stats(gdocs, group_col="lang")
    rows = {r.lang: r for r in index_health(gp, gs, group_col="lang").collect()}
    assert set(rows) == {"en", "de", None}
    assert rows["de"].max_df == 2  # zeilen in 2 de docs
    assert rows["de"].n_docs == 2
    assert rows[None].n_docs == 1
    # grouped hot-terms face: per-group candidate stop list (NULL
    # group ties break on term asc)
    ghot = {
        r.lang: (r.term, r.df, r.df_frac)
        for r in index_health(
            gp, gs, group_col="lang", hot_terms=1
        ).collect()
    }
    assert ghot == {
        "en": ("spark", 2, 1.0),
        "de": ("zeilen", 2, 1.0),
        None: ("mystery", 1, 1.0),
    }
