"""Empty-input robustness: every major operator must return an empty (or
identity) result on an empty DataFrame — not raise. At 100 TB an empty
partition/source is routine (empty date partition, filtered-out source),
and an iterative op that divides by a count or collects a first row would
crash the whole job."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, source string")


def test_dedup_family_on_empty(empty_docs):
    from datamunging_spark.operators.dedup import (
        connected_component_labels,
        exact_dedup,
        minhash_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_df,
    )

    assert exact_dedup(empty_docs).count() == 0
    assert minhash_lsh_pairs(empty_docs).count() == 0
    assert minhash_dedup(empty_docs).count() == 0
    assert simhash_df(empty_docs).count() == 0
    assert ngram_jaccard_pairs(empty_docs, empty_docs).count() == 0
    pairs = empty_docs.sparkSession.createDataFrame([], "id_a long, id_b long")
    assert connected_component_labels(pairs).count() == 0  # driver path
    assert connected_component_labels(pairs, driver_threshold=0).count() == 0


def test_curation_and_trainset_on_empty(spark, empty_docs):
    from datamunging_spark.operators.pipeline import curate_corpus
    from datamunging_spark.operators.trainset import (
        contamination_report,
        decontaminate,
        source_mix,
        training_shuffle,
    )

    assert curate_corpus(empty_docs, fuzzy=True, redact=True).count() == 0
    assert contamination_report(empty_docs, empty_docs).count() == 0
    assert decontaminate(empty_docs, empty_docs).count() == 0
    assert source_mix(empty_docs, {"web": 2.5}).count() == 0
    assert training_shuffle(empty_docs, ["doc_id"]).count() == 0


@pytest.mark.slow
def test_sampling_and_relational_on_empty(spark, empty_docs):
    from datamunging_spark.operators.relational import range_join
    from datamunging_spark.operators.sampling import (
        bernoulli_sample_portable,
        cap_per_group,
        sample_n,
    )

    assert bernoulli_sample_portable(empty_docs, 0.5, ["doc_id"]).count() == 0
    assert cap_per_group(empty_docs, ["source"], 3).count() == 0
    # seeded sample_n on an empty input: plan stats/count path must not
    # divide by zero or mis-handle total=0
    assert sample_n(empty_docs, 10, seed=1).count() == 0
    iv = spark.createDataFrame([], "iid long, lo double, hi double")
    pts = empty_docs.select("doc_id", F.lit(1.0).alias("x"))
    assert range_join(pts, iv, "x", "lo", "hi", 10.0).count() == 0


def test_similarity_on_empty(spark):
    from datamunging_spark.operators.similarity import (
        brute_force_topk,
        dequantize_embeddings,
        lsh_topk,
        quantize_embeddings,
    )

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert brute_force_topk(emb, emb, k=3).count() == 0
    assert lsh_topk(emb, emb, k=3).count() == 0
    assert dequantize_embeddings(quantize_embeddings(emb)).count() == 0


def test_x5_text_ops_on_empty(spark, empty_docs):
    from datamunging_spark.functions import token_count
    from datamunging_spark.operators.dedup import paragraph_dedup
    from datamunging_spark.operators.text import chunk_documents
    from datamunging_spark.operators.trainset import (
        pack_sequences,
        take_token_budget,
    )

    slim = empty_docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    assert paragraph_dedup(empty_docs).count() == 0
    assert chunk_documents(empty_docs).count() == 0
    assert pack_sequences(slim).count() == 0
    assert take_token_budget(slim, 100, order_cols=["doc_id"]).count() == 0


def test_incremental_dedup_on_empty(spark, empty_docs):
    """Empty batch vs non-empty history, and non-empty batch vs EMPTY
    history (first-ever ingest run) both behave."""
    from datamunging_spark.operators.dedup import (
        content_snapshot,
        incremental_dedup,
        incremental_minhash_dedup,
        minhash_signatures_df,
    )

    hist = spark.createDataFrame(
        [(1, "some history doc", "web")], ["doc_id", "text", "source"]
    )
    snap, sig = content_snapshot(hist), minhash_signatures_df(hist)
    assert incremental_dedup(empty_docs, snap).count() == 0
    assert incremental_minhash_dedup(empty_docs, sig).count() == 0
    batch = spark.createDataFrame(
        [(10, "a brand new doc", "web")], ["doc_id", "text", "source"]
    )
    empty_snap, empty_sig = content_snapshot(empty_docs), minhash_signatures_df(
        empty_docs
    )
    assert incremental_dedup(batch, empty_snap).count() == 1
    assert incremental_minhash_dedup(batch, empty_sig).count() == 1


@pytest.mark.slow
def test_round6_ops_on_empty(spark, empty_docs):
    """Round-6 operators on empty inputs: ingest_batch bootstraps to empty
    snapshots, simhash pairing/dedup return empty, split/stratified/url/
    line/gopher ops pass empties through, JSONL round-trips zero rows."""
    from datamunging_spark.operators.dedup import (
        dedupe_lines_within_doc,
        ingest_batch,
        simhash_dedup,
        simhash_pairs,
        url_dedup,
    )
    from datamunging_spark.operators.text import gopher_quality_flags
    from datamunging_spark.operators.trainset import split_dataset

    surv, snaps = ingest_batch(empty_docs)
    assert surv.count() == 0
    assert snaps.content.count() == 0 and snaps.signatures.count() == 0
    # and an empty batch against REAL snapshots is also a no-op
    surv2, snaps2 = ingest_batch(empty_docs, snaps)
    assert surv2.count() == 0 and snaps2.signatures.count() == 0

    assert simhash_pairs(empty_docs).count() == 0
    assert simhash_dedup(empty_docs).count() == 0
    assert dedupe_lines_within_doc(empty_docs).count() == 0
    assert gopher_quality_flags(empty_docs).count() == 0
    assert split_dataset(empty_docs, {"a": 1.0}, id_cols=["doc_id"]).count() == 0

    empty_urls = spark.createDataFrame([], "doc_id long, url string")
    assert url_dedup(empty_urls).count() == 0


def test_session_new_ops_on_empty(spark, empty_docs):
    """Round-6 continuation ops: pure transforms return empty cleanly; the
    model-fit ops raise a CLEAR error (fitting on nothing is a caller bug,
    but it must not surface as a numpy stack traceback)."""
    from datamunging_spark.operators.text import (
        gopher_repetition_flags,
        hashed_embeddings,
        lm_quality_score,
        unigram_lm_fit,
    )
    from datamunging_spark.operators.trainset import decontaminate_substring

    assert gopher_repetition_flags(empty_docs).count() == 0
    assert hashed_embeddings(empty_docs).count() == 0
    lm = unigram_lm_fit(empty_docs)
    assert lm.count() == 0
    # scoring a real corpus against an EMPTY model: everything is OOV
    one = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    row = lm_quality_score(one, lm, oov_logprob=-20.0).collect()[0]
    assert row["n_oov"] == 2 and row["lm_score"] == -20.0
    # empty benchmark → corpus unchanged; empty corpus → empty out
    assert decontaminate_substring(empty_docs, empty_docs).count() == 0
    assert decontaminate_substring(one, empty_docs).count() == 1
    assert (
        decontaminate_substring(
            one, empty_docs, matcher="multipattern"
        ).count()
        == 1
    )


def test_vector_fit_ops_on_empty(spark):
    """pq_fit, fit_pca and both ivf_build faces on an empty vector table
    raise a clear error instead of a deep numpy/MLlib traceback."""
    import pytest

    from datamunging_spark.operators.ml import fit_pca
    from datamunging_spark.operators.similarity import ivf_build, pq_fit

    empty_vec = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        pq_fit(empty_vec)
    with pytest.raises(ValueError, match="at least 2 rows"):
        fit_pca(empty_vec, k=2)
    empty_grouped = empty_vec.withColumn("grp", F.lit(None).cast("string"))
    for group_col in (None, "grp"):
        with pytest.raises(ValueError, match="empty corpus"):
            ivf_build(empty_grouped, group_col=group_col)


def test_history_family_on_empty(spark):
    from datamunging_spark.operators.history import (
        apply_changelog,
        scd2_build,
        scd2_lookup,
        snapshot_diff,
    )

    empty = spark.createDataFrame([], "id int, s string")
    full = spark.createDataFrame([(1, "a")], "id int, s string")
    # empty vs empty, empty vs full (everything added), full vs empty
    # (everything removed)
    assert snapshot_diff(empty, empty, ["id"]).count() == 0
    assert [
        r.status for r in snapshot_diff(empty, full, ["id"]).collect()
    ] == ["added"]
    assert [
        r.status for r in snapshot_diff(full, empty, ["id"]).collect()
    ] == ["removed"]

    snaps = spark.createDataFrame([], "id int, attr string, v int")
    assert scd2_build(snaps, ["id"], ["attr"], "v").count() == 0

    dim = spark.createDataFrame(
        [], "id int, attr string, effective_from int, effective_to int"
    )
    facts = spark.createDataFrame([(1, 5)], "id int, ts int")
    got = scd2_lookup(facts, dim, ["id"], "ts").collect()
    assert len(got) == 1 and got[0].attr is None
    assert scd2_lookup(facts.limit(0), dim, ["id"], "ts").count() == 0

    changes = spark.createDataFrame(
        [(2, "b", 1, "upsert")], "id int, s string, ver int, op string"
    )
    # empty base + changelog = the changelog's upserts
    out = apply_changelog(empty, changes, ["id"], "ver", op_col="op")
    assert [(r.id, r.s) for r in out.collect()] == [(2, "b")]


def test_vocab_on_empty(spark):
    from datamunging_spark.operators.text import build_vocab, vocab_coverage

    empty = spark.createDataFrame([], "doc_id long, text string")
    v = build_vocab(empty, vocab_size=10)
    assert v.count() == 0
    r = vocab_coverage(empty, v).collect()[0]
    assert r.total_tokens == 0 and r.oov_rate is None


def test_event_analytics_on_empty(spark):
    from datamunging_spark.operators.relational import (
        cohort_retention,
        funnel_report,
        interval_join,
    )

    empty = spark.createDataFrame([], "user_id int, ts int, et string")
    out = funnel_report(empty, "user_id", "ts", "et", ["a", "b"])
    # the step spine always renders; counts are zero
    assert [(r.step, r.n_users) for r in out.collect()] == [(1, 0), (2, 0)]
    ev = spark.createDataFrame([], "user_id int, ts timestamp")
    assert cohort_retention(ev, "user_id", "ts").count() == 0
    left = spark.createDataFrame([], "ls double, le double")
    right = spark.createDataFrame([(0.0, 1.0)], "rs double, re double")
    assert interval_join(left, right, "ls", "le", "rs", "re", 1.0).count() == 0


def test_history_extensions_on_empty(spark):
    from datamunging_spark.operators.history import (
        extract_changelog,
        scd2_apply_snapshot,
        scd2_validate,
    )

    empty = spark.createDataFrame([], "id int, s string")
    full = spark.createDataFrame([(1, "a")], "id int, s string")
    # empty -> full is all upserts; full -> empty all deletes
    log = extract_changelog(empty, full, ["id"], version=1)
    assert [r.op for r in log.collect()] == ["upsert"]
    log2 = extract_changelog(full, empty, ["id"], version=1)
    assert [r.op for r in log2.collect()] == ["delete"]

    dim = spark.createDataFrame(
        [], "id int, attr string, effective_from int, effective_to int,"
            " is_current boolean"
    )
    snap = spark.createDataFrame([(1, "x")], "id int, attr string")
    stepped = scd2_apply_snapshot(dim, snap, ["id"], ["attr"], 1)
    assert [(r.id, r.attr, r.effective_from) for r in stepped.collect()] \
        == [(1, "x", 1)]
    # empty snapshot leaves the dim untouched
    assert scd2_apply_snapshot(
        stepped, snap.limit(0), ["id"], ["attr"], 2
    ).count() == 1
    assert scd2_validate(dim, ["id"]).count() == 0


def test_phash_family_on_empty(spark):
    """r12 X3 dedup leg: empty media frames flow through hash, pairs,
    dedup and the incremental face (both sides empty, and an empty
    BATCH against a real snapshot) without crashing."""
    from datamunging_spark.operators.multimodal import (
        incremental_phash_dedup,
        phash_dedup,
        phash_df,
        phash_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, payload binary")
    assert phash_df(empty).count() == 0
    assert phash_pairs(empty).count() == 0
    assert phash_dedup(empty).count() == 0
    empty_sh = phash_df(empty)
    assert incremental_phash_dedup(empty, empty_sh).count() == 0
    real = spark.createDataFrame(
        [(1, b"some payload bytes")], "doc_id long, payload binary"
    )
    real_sh = phash_df(real).localCheckpoint()
    # empty batch vs real history: nothing in, nothing out
    assert incremental_phash_dedup(empty, real_sh).count() == 0
    # real batch vs empty history: pure within-batch pass
    assert incremental_phash_dedup(real, empty_sh).count() == 1


def test_r13_retrieval_additions_on_empty(spark):
    """r13 retrieval legs: empty corpora, empty queries and empty
    judgment tables flow through BM25F, more-like-this, proximity,
    spell suggestion and the metrics without crashing."""
    from datamunging_spark.operators.retrieval import (
        bm25f_topk,
        field_stats,
        fielded_index,
        fielded_term_stats,
        index_stats,
        inverted_index,
        more_like_this,
        near_topk,
        retrieval_metrics,
        spell_suggest,
        term_stats,
    )

    no_docs = spark.createDataFrame(
        [], "doc_id long, title string, body string"
    )
    fpost = fielded_index(no_docs, ["title", "body"])
    assert fpost.count() == 0
    assert fielded_term_stats(fpost).count() == 0
    fst = field_stats(no_docs, ["title", "body"])
    assert fst.count() == 0  # grouped-by-field aggregate: no rows
    q = spark.createDataFrame([(0, "zebra")], "query_id long, query string")
    assert bm25f_topk(
        fpost, q, fst, weights={"title": 2.0, "body": 1.0}, k=3
    ).count() == 0
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    post, stats = inverted_index(docs), index_stats(docs)
    no_ids = spark.createDataFrame([], "doc_id long")
    assert more_like_this(post, no_ids, stats, k=3).count() == 0
    ppost = inverted_index(docs, positions=True)
    no_q = spark.createDataFrame([], "query_id long, query string")
    assert near_topk(ppost, no_q, k=3).count() == 0
    # empty-string query term: the delete-variant guard handles it,
    # and recall stays exact — no vocab term here is within distance
    # 2 of "", so the empty term must return NOTHING while the real
    # term still resolves at distance 0
    sq = spark.createDataFrame([("",), ("beta",)], "term string")
    rows = spell_suggest(term_stats(post), sq, k=3, max_edit=2).collect()
    assert not [r for r in rows if r.term == ""]
    assert [(r.suggestion, r.distance) for r in rows
            if r.term == "beta" and r.rank == 1] == [("beta", 0)]
    no_qrels = spark.createDataFrame([], "query_id long, doc_id long")
    ranking = spark.createDataFrame(
        [(0, 1, 1)], "query_id long, doc_id long, rank long"
    )
    assert retrieval_metrics(ranking, no_qrels, k=3).count() == 0
    no_rank = spark.createDataFrame(
        [], "query_id long, doc_id long, rank long"
    )
    qrels = spark.createDataFrame(
        [(0, 1)], "query_id long, doc_id long"
    )
    row = retrieval_metrics(no_rank, qrels, k=3).collect()
    assert [(r.query_id, r.n_rel, r.rel_ret) for r in row] == [(0, 1, 0)]
