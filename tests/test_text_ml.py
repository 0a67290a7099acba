"""Text features + ML operators (R33-R42, X4)."""

import math

import pytest
from pyspark.sql import functions as F

from datamunging_spark.operators.ml import fit_pca, fit_word2vec, pca_project
from datamunging_spark.operators.text import (
    detect_language,
    ner_entities,
    text_profile,
    tf_idf,
    tokenized,
    word_count,
)


def test_tfidf_closed_form(spark):
    """IDF matches log((N+1)/(df+1)) (R34 oracle, SURVEY.md §5.3)."""
    df = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple cherry"), (3, "apple banana date")],
        ["doc_id", "text"],
    )
    out = tf_idf(df, num_features=1 << 12)
    vecs = {r["doc_id"]: r["tfidf"] for r in out.collect()}
    n = 3
    # 'apple' appears in all 3 docs → idf = log(4/4) = 0 → its weight is 0
    # 'banana' in 2 docs → log(4/3); 'date' in 1 doc → log(4/2)
    weights = sorted(set(round(v, 6) for vec in vecs.values() for v in vec.values))
    expect = sorted({0.0, round(math.log(4 / 3), 6), round(math.log(4 / 2), 6)})
    assert weights == expect


def test_word_count_totals(tables):
    d = tables["documents"]
    wc = word_count(d)
    total_tokens = d.select(
        F.sum(F.size(F.filter(F.split("text", " ", -1), lambda t: t != "")))
    ).first()[0]
    assert wc.agg(F.sum("cnt")).first()[0] == total_tokens


def test_text_profile_columns(tables):
    prof = text_profile(tables["documents"].limit(20))
    row = prof.first()
    assert row["n_tokens"] > 0
    assert 0.0 <= row["stopword_frac"] <= 1.0
    assert 0.0 <= row["quality"] <= 1.0
    assert isinstance(row["fingerprint"], int)


def test_detect_language_deterministic(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is fine",),
            ("le chat est dans la maison et il est bien",),
            ("der hund ist nicht in das haus und er ist gut",),
        ],
        ["text"],
    )
    out = [r["l"] for r in df.select(detect_language("text").alias("l")).collect()]
    assert out == ["en", "fr", "de"]


def test_ner_stub_shape(tables):
    out = ner_entities(tables["documents"].limit(10))
    row = out.select("entities").first()
    assert isinstance(row["entities"], list)


def test_ner_heuristic_golden(spark):
    """Pin the fallback heuristic's exact outputs (R37): the container has
    no NLTK, so the capitalized-run extractor IS the behavior users get —
    this golden file freezes it against silent drift. Regenerate (and
    review the diff) only on a deliberate semantic change."""
    import json
    import os

    golden_path = os.path.join(os.path.dirname(__file__), "golden_ner.json")
    with open(golden_path) as f:
        golden = json.load(f)
    texts = [
        (0, "John Smith visited New York City with Mary Jane last Tuesday."),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "Apache Spark and Hadoop Distributed File System power Data Munging pipelines."),
        (3, "IBM sold ThinkPad to Lenovo Group in Beijing China"),
        (4, ""),
        (5, "A single Capitalized word. Then Another One appears mid-sentence."),
        (6, "numbers 123 and MixedCase tokens like iPhone or eBay stay out"),
        (7, "Dr Jekyll And Mr Hyde By Robert Louis Stevenson"),
    ]
    d = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        str(r["doc_id"]): list(r["entities"])
        for r in ner_entities(d).select("doc_id", "entities").collect()
    }
    assert got == golden


def test_word2vec_and_synonyms(tables):
    d = tokenized(tables["documents"].limit(200))
    model = fit_word2vec(d, vector_size=16, min_count=2, seed=42)
    vocab = model.getVectors()
    assert vocab.count() > 10
    word = vocab.first()["word"]
    syn = model.findSynonyms(word, 3)
    assert syn.count() == 3


def test_pca_projection(spark, tables):
    """fit_pca / pca_project against an independent numpy PCA of the
    collected matrix (np.cov + eigh): explained variance to 1e-9
    relative, components and projections equal up to each component's
    sign, and the sign rule holds. Run on 7 partitions and on a frame
    with empty partitions, so the co-moment merge is exercised."""
    import numpy as np

    emb = tables["embeddings"]
    X = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=float
    )
    w, v = np.linalg.eigh(np.cov(X, rowvar=False))
    top = np.argsort(w)[::-1][:8]
    ref_ev, ref_pc = w[top] / w.sum(), v[:, top]
    gappy = emb.repartition(7, F.col("vec_id") % 2)
    assert 0 in gappy.rdd.glom().map(len).collect()
    for df in (emb.repartition(7), gappy):
        model = fit_pca(df, k=8)
        ev = model.explainedVariance.toArray()
        np.testing.assert_allclose(ev, ref_ev, rtol=1e-9)
        assert list(ev) == sorted(ev, reverse=True)
        pc = model.pc.toArray()
        assert pc.shape == (X.shape[1], 8)
        # sign rule: each component's largest-|.| entry is positive
        assert (pc[np.abs(pc).argmax(axis=0), range(8)] > 0).all()
        sign = np.sign(np.diag(ref_pc.T @ pc))
        assert np.abs(pc - ref_pc * sign).max() < 1e-9
        got = np.array([
            r["pca"].toArray()
            for r in pca_project(model, df).orderBy("vec_id").collect()
        ])
        want = X @ ref_pc * sign
        assert np.abs(got - want).max() < 1e-9 * np.abs(want).max()


def test_pca_rejects_bad_input(spark):
    """Fewer than 2 rows, k outside [1, d], and a NULL array, a NULL
    element or ragged widths raise ValueError (the last three naming
    the column), within one Arrow batch and across partitions."""
    good = [[1.0, 2.0, 3.0], [2.0, 0.0, 1.0], [0.0, 1.0, 5.0]]
    schema = "id long, v array<double>"

    def frame(vs):
        return spark.createDataFrame(list(enumerate(vs)), schema)

    with pytest.raises(ValueError, match="at least 2 rows"):
        fit_pca(frame(good[:1]), "v", k=1)
    for k in (0, 4):
        with pytest.raises(ValueError, match="k must be"):
            fit_pca(frame(good), "v", k=k)
    for bad in ([None], [[1.0, None, 2.0]], [[1.0, 2.0]]):
        df = frame(good + bad)
        for d in (df.coalesce(1), df.repartition(4)):
            with pytest.raises(ValueError, match="column 'v'"):
                fit_pca(d, "v", k=2)


#: Spark jobs on the sf0.001 embeddings: the fit is one Arrow pass and
#: its collect; the projection adds no job of its own, so fit +
#: project + count() is the fit plus the count's aggregate stage and
#: result (one job each under AQE).
ML_JOB_BUDGET = {"fit_pca": 1, "fit_pca+project+count": 3}


def test_ml_job_budget(spark, tables):
    """A job-count regression on the PCA recipe fails here: the fit
    alone, and fit + projection + count(), must stay within
    ``ML_JOB_BUDGET``."""
    from test_retrieval import _jobs_of

    emb = tables["embeddings"]
    calls = {
        "fit_pca": lambda: fit_pca(emb, k=8),
        "fit_pca+project+count": lambda: pca_project(
            fit_pca(emb, k=8), emb
        ).count(),
    }
    jobs = {
        op: _jobs_of(spark, call, f"ml-budget-{op}")
        for op, call in calls.items()
    }
    over = {
        op: (n, ML_JOB_BUDGET[op])
        for op, n in jobs.items()
        if n > ML_JOB_BUDGET[op]
    }
    assert not over, f"jobs over budget (got, budget): {over} of {jobs}"


def test_chunk_documents_windows_and_overlap(spark):
    from datamunging_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, "")], ["doc_id", "text"]
    )
    out = chunk_documents(df, max_tokens=40, overlap=10)
    rows = sorted(
        out.collect(), key=lambda r: (r["doc_id"], r["chunk_id"])
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 100 tokens, step 30 -> starts 0,30,60 (90 would be a subset) -> 3 chunks
    c1 = by_doc[1]
    assert [r["chunk_id"] for r in c1] == [0, 1, 2]
    assert c1[0]["n_tokens"] == 40 and c1[0]["chunk_text"].startswith("w0 ")
    assert c1[1]["chunk_text"].startswith("w30 ")  # overlap of 10
    assert c1[2]["n_tokens"] == 40  # last window reaches the end (w60..w99)
    assert c1[2]["chunk_text"].endswith(" w99")
    # short and empty docs: exactly one chunk each
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "short doc"
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_tokens"] == 1  # [''] token
    # NULL text behaves like empty text (n_tokens never NULL)
    null_out = chunk_documents(
        spark.createDataFrame([(9, None)], "doc_id long, text string"),
        max_tokens=40, overlap=10,
    ).collect()
    assert len(null_out) == 1 and null_out[0]["n_tokens"] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=10, overlap=10)
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=10, overlap=-1)


def test_gopher_quality_flags(spark):
    """Published-rule quality gates: a normal doc passes all five; each
    pathological doc trips exactly the intended rule."""
    from datamunging_spark.operators.text import gopher_quality_flags

    good = "the quick brown fox jumps with energy and " + " ".join(
        f"word{i} that have been seen of the and to be" for i in range(10)
    )
    rows = [
        (1, good),                                          # passes
        (2, "too short to have fifty words in it"),         # word_count
        (3, " ".join(["a"] * 60)),                          # mean_word_len low
        (4, good + " " + "#tag " * 30),                     # symbol ratio
        (5, " ".join(["12345"] * 30 + ["the of and be to have that with"])),  # alpha
        (6, " ".join(f"zqx{i}v" for i in range(80))),       # no stopwords
        (7, None),                                          # NULL text
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert got[1]["quality_pass"]
    assert not got[2]["word_count_ok"] and not got[2]["quality_pass"]
    assert not got[3]["mean_word_len_ok"]
    assert not got[4]["symbol_ratio_ok"]
    assert not got[5]["alpha_word_ok"]
    assert not got[6]["stopword_ok"]
    assert not got[7]["quality_pass"] and not got[7]["word_count_ok"]


def test_unigram_lm_closed_form(spark):
    """Fit on a 3-token-vocab corpus and check scores against hand-computed
    values: token probs a=2/5, b=2/5, c=1/5; doc scores are exact means of
    the rounded logprobs."""
    import math

    from datamunging_spark.operators.text import (
        lm_quality_score,
        unigram_lm_fit,
    )

    df = spark.createDataFrame(
        [(1, "a  A b"), (2, "b c"), (3, "   ")], ["doc_id", "text"]
    )
    lm = unigram_lm_fit(df)
    got = {r["token"]: (r["cnt"], r["logprob"]) for r in lm.collect()}
    assert got == {
        "a": (2, round(math.log(2 / 5), 7)),
        "b": (2, round(math.log(2 / 5), 7)),
        "c": (1, round(math.log(1 / 5), 7)),
    }
    scores = {
        r["doc_id"]: r for r in lm_quality_score(df, lm).collect()
    }
    # doc 3 is whitespace-only: no tokens, no row
    assert set(scores) == {1, 2}
    lp = lambda p: round(math.log(p), 7)  # noqa: E731
    assert scores[1]["n_tokens"] == 3 and scores[1]["n_oov"] == 0
    assert scores[1]["lm_score"] == round(3 * lp(2 / 5) / 3, 6)
    assert scores[2]["lm_score"] == round((lp(2 / 5) + lp(1 / 5)) / 2, 6)


def test_lm_quality_score_oov_floor(spark):
    """Tokens absent from the model score the OOV floor, and the OOV count
    is reported per doc."""
    from datamunging_spark.operators.text import (
        lm_quality_score,
        unigram_lm_fit,
    )

    fit_on = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    score_on = spark.createDataFrame([(9, "a zz")], ["doc_id", "text"])
    lm = unigram_lm_fit(fit_on)
    row = lm_quality_score(score_on, lm, oov_logprob=-20.0).collect()[0]
    assert row["n_tokens"] == 2 and row["n_oov"] == 1
    import math

    assert row["lm_score"] == round(
        (round(math.log(1 / 2), 7) + -20.0) / 2, 6
    )


def test_lm_quality_score_separates_gibberish(spark, tables):
    """On the driver corpus, a gibberish doc (tokens the corpus never
    repeats) must score below the corpus median — the signal the filter
    exists for."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.text import (
        lm_quality_score,
        unigram_lm_fit,
    )

    docs = tables["documents"].select("doc_id", "text")
    gib = spark.createDataFrame(
        [(990001, "zqxv jkwp mmbrt qqzl vvkx ploz")], ["doc_id", "text"]
    )
    corpus = docs.unionByName(gib)
    lm = unigram_lm_fit(corpus)
    scored = lm_quality_score(corpus, lm)
    med = scored.agg(
        F.expr("percentile_approx(lm_score, 0.5)").alias("m")
    ).collect()[0]["m"]
    gib_score = scored.filter(F.col("doc_id") == 990001).collect()[0][
        "lm_score"
    ]
    assert gib_score < med


def test_lm_quality_bands_fractions_and_order(spark):
    """Band cuts land the right fractions on a uniform score grid, and the
    band order respects the score order (every head score > every middle
    score > every tail score)."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.text import lm_quality_bands

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], ["doc_id", "lm_score"]
    )
    out = lm_quality_bands(df, head=0.1, tail=0.3)
    got = {r["doc_id"]: r["lm_band"] for r in out.collect()}
    bands = {b: {i for i, v in got.items() if v == b}
             for b in ("head", "middle", "tail")}
    # exact percentile of 0..99 at p=0.9 is 89.1 → scores >= 89.1 are head
    assert bands["head"] == set(range(90, 100))
    # p=0.3 cut is 29.7 → scores <= 29.7 are tail
    assert bands["tail"] == set(range(30))
    assert bands["middle"] == set(range(30, 90))
    if bands["head"] and bands["middle"]:
        assert min(bands["head"]) > max(bands["middle"])
    if bands["middle"] and bands["tail"]:
        assert min(bands["middle"]) > max(bands["tail"])


def test_lm_quality_bands_grouped_cuts_are_per_group(spark):
    """Per-group banding: a score that is head-grade in a low-scoring group
    must not leak the other group's cut."""
    from datamunging_spark.operators.text import lm_quality_bands

    rows = [(i, "a", float(i)) for i in range(10)] + [
        (100 + i, "b", 1000.0 + i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "lm_score"])
    out = lm_quality_bands(df, group_cols=["source"], head=0.2, tail=0.2)
    got = {r["doc_id"]: r["lm_band"] for r in out.collect()}
    # group a's best scores are head WITHIN a despite being far below b's
    assert got[9] == "head" and got[109] == "head"
    assert got[0] == "tail" and got[100] == "tail"


def test_gopher_repetition_flags_hand_computed(spark):
    """Pin the repetition metrics against hand-computed values: duplicate
    line fractions, overlapping top-n-gram char fractions (which may exceed
    1 by construction), and the empty-doc zero default."""
    from datamunging_spark.operators.text import gopher_repetition_flags

    df = spark.createDataFrame(
        [
            (1, "a\nb\nA\nc"),            # 'a' repeats after normalize
            (2, "spam spam spam spam"),    # one dominant 2-gram
            (3, "the quick brown fox"),    # all grams unique
            (4, "   "),                    # no lines, no words
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in
           gopher_repetition_flags(df).collect()}

    r1 = got[1]
    assert r1["dup_line_frac"] == 1 - 3 / 4
    assert r1["dup_line_char_frac"] == 1 / 4
    assert r1["dup_line_ok"] and r1["dup_line_char_ok"] is False

    r2 = got[2]
    # "spam spam" occurs 3x, len 9; word text len 19
    assert r2["top2gram_char_frac"] == 3 * 9 / 19
    assert not r2["top2gram_ok"] and not r2["repetition_pass"]

    r3 = got[3]
    # every gram unique -> max is the longest gram's length / 19
    assert r3["top2gram_char_frac"] == 11 / 19  # 'quick brown'
    assert r3["top3gram_char_frac"] == 15 / 19  # 'the quick brown'
    assert not r3["top3gram_ok"]  # 15/19 > 0.18: short docs are spiky
    assert r3["dup_line_frac"] == 0.0

    r4 = got[4]
    assert r4["dup_line_frac"] == 0.0 and r4["top4gram_char_frac"] == 0.0
    assert r4["repetition_pass"]


def test_hashed_embeddings_shape_norm_and_similarity(spark):
    """Hashing-trick embeddings: unit L2 norm (to rounding), identical
    token bags map to identical vectors regardless of order, disjoint
    vocabularies are (near-)orthogonal, and empty docs get the zero
    vector at the declared dim."""
    import math

    from datamunging_spark.operators.text import hashed_embeddings

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma beta  ALPHA"),   # same bag, different order/case/ws
            (3, "delta epsilon zeta eta theta"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: list(r["embedding"]) for r in
           hashed_embeddings(df, dim=32).collect()}
    assert all(len(v) == 32 for v in got.values())
    assert got[1] == got[2]
    dot = lambda a, b: sum(x * y for x, y in zip(a, b))  # noqa: E731
    assert abs(math.sqrt(dot(got[1], got[1])) - 1.0) < 1e-4
    assert dot(got[1], got[3]) < 0.5  # disjoint vocab, low overlap
    assert got[4] == [0.0] * 32


def test_hashed_embeddings_feed_semantic_dedup(spark, tables):
    """End-to-end text→vector→SemDeDup with no external model: planted
    same-bag text duplicates (cosine 1 on hashed embeddings) collapse to
    one survivor."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import semantic_dedup
    from datamunging_spark.operators.text import hashed_embeddings

    docs = tables["documents"].select("doc_id", "text").limit(100)
    copies = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    emb = hashed_embeddings(corpus, dim=64)
    out = semantic_dedup(emb, threshold=0.999, n_clusters=4)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert not any(v >= 700000 for v in kept)  # every planted copy gone
    assert all(v in kept for v in range(5))    # originals survive


def test_unigram_lm_per_group_models(spark):
    """group_col fits one model per group: probabilities condition on the
    group (same token, different logprob per language), scoring joins on
    (group, token), and a token common in lang A but absent in lang B is
    OOV for a B doc — the cross-language pollution the per-language
    structure exists to stop."""
    import math

    from datamunging_spark.operators.text import (
        lm_quality_score,
        unigram_lm_fit,
    )

    df = spark.createDataFrame(
        [
            (1, "le chat le chat", "fr"),
            (2, "the cat sat", "en"),
            (3, "chat room", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    lm = unigram_lm_fit(df, group_col="lang")
    got = {(r["lang"], r["token"]): r["logprob"] for r in lm.collect()}
    # 'chat': 2/4 of fr tokens, 1/5 of en tokens — group-conditional
    assert got[("fr", "chat")] == round(math.log(2 / 4), 7)
    assert got[("en", "chat")] == round(math.log(1 / 5), 7)
    assert ("en", "le") not in got  # vocabulary is per group

    scored = {
        r["doc_id"]: r
        for r in lm_quality_score(
            df, lm, group_col="lang", oov_logprob=-20.0
        ).collect()
    }
    assert scored[1]["n_oov"] == 0
    # doc 2's tokens all exist in en; 'le' would be OOV for an en doc
    en_doc = spark.createDataFrame([(9, "le chat", "en")],
                                   ["doc_id", "text", "lang"])
    r9 = lm_quality_score(en_doc, lm, group_col="lang").collect()[0]
    assert r9["n_oov"] == 1  # 'le' unknown to the en model


def test_bigram_lm_closed_form_and_interpolation(spark):
    """Hand-computed bigram conditionals on 'a b a b' (p(b|a)=1, p(a|b)=1)
    and the interpolated score of 'a b': first token unigram-only, second
    token lam*p(b|a) + (1-lam)*p(b)."""
    import math

    from datamunging_spark.operators.text import (
        bigram_lm_fit,
        lm_quality_score_interpolated,
        unigram_lm_fit,
    )

    fit = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    uni = unigram_lm_fit(fit)
    bi = bigram_lm_fit(fit)
    got = {(r["w1"], r["w2"]): (r["cnt"], r["cond_logprob"])
           for r in bi.collect()}
    # bigrams: (a,b) x2, (b,a) x1; c_pre(a)=2, c_pre(b)=1
    assert got[("a", "b")] == (2, round(math.log(2 / 2), 7))
    assert got[("b", "a")] == (1, round(math.log(1 / 1), 7))

    probe = spark.createDataFrame([(9, "a b"), (10, "zz")],
                                  ["doc_id", "text"])
    out = {r["doc_id"]: r for r in lm_quality_score_interpolated(
        probe, uni, bi, lam=0.5).collect()}
    # token 'a' (first): p = p_uni = exp(round(ln(1/2),7))
    # token 'b' (prev a): p = 0.5*1.0 + 0.5*exp(round(ln(1/2),7))
    pu = math.exp(round(math.log(0.5), 7))
    exp_score = round(
        (round(math.log(pu), 7) + round(math.log(0.5 + 0.5 * pu), 7)) / 2, 6
    )
    assert out[9]["lm_score"] == exp_score and out[9]["n_oov"] == 0
    assert out[10]["n_oov"] == 1 and out[10]["lm_score"] == -20.0


def test_interpolated_lm_rewards_fluent_bigrams(spark, tables):
    """On the driver corpus: a doc built from REAL corpus bigram sequences
    must outscore a bag of the same tokens in scrambled order under the
    interpolated model (the signal the bigram tier adds over unigram)."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.text import (
        bigram_lm_fit,
        lm_quality_score_interpolated,
        unigram_lm_fit,
    )

    docs = tables["documents"].select("doc_id", "text")
    uni = unigram_lm_fit(docs)
    bi = bigram_lm_fit(docs)
    sample = docs.filter(F.col("doc_id") == 0).collect()[0]["text"]
    toks = sample.lower().split()[:12]
    fluent = " ".join(toks)
    scrambled = " ".join(toks[::2] + toks[1::2][::-1])
    probe = spark.createDataFrame(
        [(1, fluent), (2, scrambled)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["lm_score"] for r in
           lm_quality_score_interpolated(probe, uni, bi).collect()}
    assert got[1] > got[2]


def test_interpolated_lm_empty_doc_and_null_group(spark):
    """Edge hygiene from review: an empty/whitespace doc must not abort the
    interpolated scorer (it just emits no rows); a NULL group value is a
    real group for the per-group fit AND the scoring join; a per-group
    model scored without group_col fails fast instead of inflating
    n_tokens; lam=1.0 is rejected."""
    import pytest

    from datamunging_spark.operators.text import (
        bigram_lm_fit,
        lm_quality_score,
        lm_quality_score_interpolated,
        unigram_lm_fit,
    )

    fit = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    uni, bi = unigram_lm_fit(fit), bigram_lm_fit(fit)
    probe = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "   ")], ["doc_id", "text"]
    )
    got = lm_quality_score_interpolated(probe, uni, bi, lam=0.5).collect()
    assert {r["doc_id"] for r in got} == {1}  # empties emit no rows, no crash
    with pytest.raises(ValueError, match="lam"):
        lm_quality_score_interpolated(probe, uni, bi, lam=1.0)

    docs = spark.createDataFrame(
        [(1, "le chat", "fr"), (2, "the cat", "en"), (3, "mystery words", None)],
        ["doc_id", "text", "lang"],
    )
    lm = unigram_lm_fit(docs, group_col="lang")
    # NULL lang is modeled, not dropped
    assert lm.filter(F.col("lang").isNull()).count() == 2
    scored = {
        r["doc_id"]: r
        for r in lm_quality_score(docs, lm, group_col="lang").collect()
    }
    assert scored[3]["n_oov"] == 0  # scored against its own NULL-group model
    # per-group model without group_col: fast failure, not silent inflation
    with pytest.raises(ValueError, match="group"):
        lm_quality_score(docs, lm)


def test_document_quality_report_composes_all_signals(spark, tables):
    """The one-call audit frame: every signal family present per doc, one
    row per input doc, LM band populated, and the per-language variant
    carries group-conditional scores."""
    from datamunging_spark.operators.text import document_quality_report

    docs = tables["documents"].select("doc_id", "text", "lang")
    rep = document_quality_report(docs).localCheckpoint()
    assert rep.count() == docs.count()
    cols = set(rep.columns)
    for c in (
        "n_tokens", "stopword_frac", "quality", "lang_detected",   # profile
        "word_count_ok", "quality_pass",                            # gopher
        "dup_line_frac", "repetition_pass",                         # repetition
        "lm_score", "lm_band", "n_oov",                             # LM
    ):
        assert c in cols, c
    bands = {r["lm_band"] for r in rep.select("lm_band").distinct().collect()}
    assert bands <= {"head", "middle", "tail", None}
    assert "head" in bands and "tail" in bands

    per_lang = document_quality_report(docs, group_col="lang")
    assert per_lang.count() == docs.count()


def test_quality_classifier_separates_planted_classes(spark, tables):
    """Train on synthetic 'clean prose vs keyboard mash' labels derived
    from documents; the classifier must rank held-out clean docs above
    mash docs (AUC-style separation, deterministic seeds)."""
    from datamunging_spark.operators.ml import (
        quality_classifier_fit,
        quality_classifier_score,
    )

    d = tables["documents"].select("doc_id", "text").filter(
        F.length("text") > 20
    )
    # planted negatives: reversed-word gibberish built FROM real docs so
    # length/charset match and only token identity separates the classes
    neg = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.split("text", " "),
                lambda w: F.reverse(w),
            ),
        ).alias("text"),
    )
    pos = d.select("doc_id", "text")
    train_pos = pos.filter(F.col("doc_id") % 2 == 0).withColumn(
        "label", F.lit(1)
    )
    train_neg = neg.filter(F.col("doc_id") % 2 == 0).withColumn(
        "label", F.lit(0)
    )
    model = quality_classifier_fit(train_pos.unionByName(train_neg))

    holdout = pos.filter(F.col("doc_id") % 2 == 1).withColumn(
        "is_clean", F.lit(True)
    ).unionByName(
        neg.filter(F.col("doc_id") % 2 == 1).withColumn(
            "is_clean", F.lit(False)
        )
    )
    scored = quality_classifier_score(model, holdout)
    assert "quality_prob" in scored.columns
    stats = scored.groupBy("is_clean").agg(
        F.avg("quality_prob").alias("avg_p")
    ).collect()
    avg = {r.is_clean: r.avg_p for r in stats}
    # clear separation on held-out docs
    assert avg[True] > avg[False] + 0.2, avg
    # output keeps the corpus schema + the probability, no feature debris
    assert set(scored.columns) == {"doc_id", "text", "is_clean", "quality_prob"}


def test_sentiment_score_basic_and_null_semantics(spark):
    from datamunging_spark.operators.text import sentiment_score

    docs = spark.createDataFrame(
        [
            (1, "This is a GREAT and excellent tool, love it"),
            (2, "terrible awful broken bug"),
            (3, "the quick brown fox"),          # no lexicon hits -> NULL
            (4, None),                            # NULL text -> NULL
            (5, "good bad"),                      # 3 + (-3) -> 0.0 (not NULL)
            (6, "Perfect!  great,\nlove it."),     # punctuation-bordered
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.sentiment, r.sentiment_hits)
        for r in sentiment_score(docs).collect()
    }
    assert got[1][0] > 0 and got[1][1] == 3      # great, excellent, love
    assert got[2][0] < 0 and got[2][1] == 4
    assert got[3] == (None, 0)
    assert got[4] == (None, 0)
    assert got[5] == (0.0, 2)
    assert got[6][1] == 3 and got[6][0] == (5 + 3 + 3) / 3


def test_sentiment_score_matches_duckdb(spark, tables):
    """Cross-engine: mean matched valence per doc re-derived in DuckDB
    with the same lexicon."""
    import duckdb

    from datamunging_spark.operators.text import (
        DEFAULT_SENTIMENT_LEXICON,
        sentiment_score,
    )

    # the synthetic corpus happens to contain no lexicon words, so union
    # two planted docs (mirrored in the SQL) to keep the check non-vacuous
    planted = tables["documents"].sparkSession.createDataFrame(
        [(9000001, "a great excellent day with one problem"),
         (9000002, "terrible waste")],
        "doc_id long, text string",
    )
    corpus = tables["documents"].select("doc_id", "text").unionByName(planted)
    got = {
        r.doc_id: (
            None if r.sentiment is None else round(r.sentiment, 6),
            r.sentiment_hits,
        )
        for r in sentiment_score(corpus).collect()
    }
    con = duckdb.connect()
    lex_rows = ", ".join(
        f"('{w}', {s})" for w, s in sorted(DEFAULT_SENTIMENT_LEXICON.items())
    )
    want = {
        int(d): (None if s is None else round(float(s), 6), int(h))
        for d, s, h in con.execute(
            f"""
            WITH lex(word, score) AS (VALUES {lex_rows}),
            toks AS (
              SELECT doc_id,
                     regexp_replace(
                       unnest(regexp_split_to_array(
                         lower(coalesce(text, '')), '\\s+')),
                       '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g') AS word
              FROM (SELECT doc_id, text FROM read_parquet(
                        '/root/testdata/sf0.001/documents.parquet')
                    UNION ALL SELECT * FROM (VALUES
                      (9000001, 'a great excellent day with one problem'),
                      (9000002, 'terrible waste')) p(doc_id, text))
            ), hits AS (
              SELECT t.doc_id, l.score
              FROM toks t JOIN lex l USING (word)
            )
            SELECT d.doc_id,
                   (SELECT avg(CAST(score AS DOUBLE)) FROM hits h
                    WHERE h.doc_id = d.doc_id),
                   (SELECT count(*) FROM hits h WHERE h.doc_id = d.doc_id)
            FROM (SELECT doc_id FROM read_parquet(
                      '/root/testdata/sf0.001/documents.parquet')
                  UNION ALL SELECT * FROM (VALUES (9000001), (9000002))
                    q(doc_id)) d
            """
        ).fetchall()
    }
    assert got == want and any(v[1] > 0 for v in got.values())


def test_sentiment_score_zero_shuffle_plan(spark, tables):
    from datamunging_spark.operators.text import sentiment_score

    plan = (
        sentiment_score(tables["documents"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final  # pure map over the scan


def test_softmax_fit_np_contract():
    """The driver-side multinomial-LR fit (r17 — replaced the MLlib
    L-BFGS job fan): deterministic (zero init, no RNG), recovers a
    linearly separable planted problem to 100% training accuracy,
    honors the convergence contract (stops before max_iter on an easy
    problem), and regularization shrinks the coefficient norm."""
    import numpy as np

    from datamunging_spark.operators.text import _softmax_fit_np

    # planted: 3 classes, each class fires a disjoint feature block
    rng = np.random.RandomState(5)
    rows, y = [], []
    for i in range(120):
        c = i % 3
        feats = list(rng.randint(c * 10, c * 10 + 10, size=8))
        feats += list(rng.randint(30, 40, size=2))  # shared noise block
        rows.append(feats)
        y.append(c)
    row_ptr = np.zeros(len(rows) + 1, dtype=np.int64)
    row_ptr[1:] = np.cumsum([len(r) for r in rows])
    flat = np.fromiter((f for r in rows for f in r), dtype=np.int32)
    y = np.array(y)

    ones = np.ones(len(flat))
    W1, b1, it1 = _softmax_fit_np(flat, ones, row_ptr, y, 3, 40, 0.01, 100)
    W2, b2, it2 = _softmax_fit_np(flat, ones, row_ptr, y, 3, 40, 0.01, 100)
    assert np.array_equal(W1, W2) and np.array_equal(b1, b2)  # determinism
    assert it1 == it2 < 100  # converged before the iteration cap
    # training accuracy on the separable plant
    logits = np.stack([
        np.add.reduceat(W1[c, flat], row_ptr[:-1]) + b1[c] for c in range(3)
    ]).T
    assert (logits.argmax(axis=1) == y).all()
    # each row as distinct (index, count) pairs is the same objective
    uniq = [np.unique(r, return_counts=True) for r in rows]
    ptr_u = np.zeros(len(rows) + 1, dtype=np.int64)
    ptr_u[1:] = np.cumsum([len(u) for u, _ in uniq])
    Wu, bu, _ = _softmax_fit_np(
        np.concatenate([u for u, _ in uniq]).astype(np.int32),
        np.concatenate([c for _, c in uniq]), ptr_u, y, 3, 40, 0.01, 100,
    )
    assert np.abs(Wu - W1).max() < 1e-9 and np.abs(bu - b1).max() < 1e-9
    # stronger L2 shrinks the solution
    W3, _, _ = _softmax_fit_np(flat, ones, row_ptr, y, 3, 40, 1.0, 100)
    assert np.linalg.norm(W3) < np.linalg.norm(W1)
    # zero-length rows, a trailing one included, are empty count rows:
    # the fit lands on a stationary point of the dense objective
    rows_e = rows[:60] + [[]] + rows[60:] + [[]]
    y_e = np.array(list(y[:60]) + [0] + list(y[60:]) + [1])
    ptr_e = np.zeros(len(rows_e) + 1, dtype=np.int64)
    ptr_e[1:] = np.cumsum([len(r) for r in rows_e])
    flat_e = np.fromiter((f for r in rows_e for f in r), dtype=np.int32)
    We, be, _ = _softmax_fit_np(
        flat_e, np.ones(len(flat_e)), ptr_e, y_e, 3, 40, 0.01, 200
    )
    X = np.zeros((len(rows_e), 40))
    for i, r in enumerate(rows_e):
        np.add.at(X[i], r, 1.0)
    z = X @ We.T + be
    P = np.exp(z - z.max(axis=1, keepdims=True))
    P /= P.sum(axis=1, keepdims=True)
    A = (P - np.eye(3)[y_e]) / len(rows_e)
    grad = np.concatenate([(A.T @ X + 0.01 * We).ravel(), A.sum(axis=0)])
    assert np.abs(grad).max() < 1e-4


def test_lang_classifier_beats_marker_heuristic(spark):
    """Model-based lang-ID (char-n-gram hashed multinomial LR — the
    fastText-style upgrade tier): on a multilingual fixture where HALF
    the docs carry no marker function-word at all, the classifier must
    (a) beat the marker heuristic's held-out accuracy and (b) clear 90%
    absolute — character n-grams catch orthography (déjà/straße/niño/
    script) where the heuristic needs function words verbatim."""
    import random

    from pyspark.sql import functions as F

    from datamunging_spark.operators.text import (
        detect_language,
        lang_classifier_fit,
        lang_classifier_score,
    )

    vocab = {
        "en": ["house", "water", "morning", "bright", "garden", "window",
               "children", "street", "weather", "evening"],
        "fr": ["maison", "château", "déjà", "être", "garçon", "fenêtre",
               "rue", "soirée", "jardin", "météo"],
        "de": ["straße", "fenster", "mädchen", "schön", "garten", "wasser",
               "morgen", "abend", "kinder", "wetter"],
        "es": ["niño", "mañana", "jardín", "ventana", "calle", "señora",
               "tiempo", "casa", "agua", "noche"],
        "zh": ["房子", "水", "早晨", "明亮", "花园", "窗户", "孩子",
               "街道", "天气", "晚上"],
    }
    marker = {"en": "the", "fr": "le", "de": "der", "es": "el", "zh": "的"}
    rng = random.Random(7)
    rows, i = [], 0
    for lang, words in vocab.items():
        for j in range(30):
            toks = [rng.choice(words) for _ in range(8)]
            if j % 2 == 0:  # half the docs get one marker token
                toks.insert(rng.randrange(len(toks)), marker[lang])
            rows.append((i, lang, " ".join(toks)))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    train = df.filter(F.col("doc_id") % 3 != 0)
    test = df.filter(F.col("doc_id") % 3 == 0).localCheckpoint()

    clf = lang_classifier_fit(train)
    assert clf.labels == ("de", "en", "es", "fr", "zh")
    scored = lang_classifier_score(clf, test).withColumn(
        "heur", detect_language("text")
    )
    agg = scored.agg(
        F.avg((F.col("lang_pred") == F.col("lang")).cast("double")).alias(
            "model_acc"
        ),
        F.avg((F.col("heur") == F.col("lang")).cast("double")).alias(
            "heur_acc"
        ),
    ).collect()[0]
    assert agg["model_acc"] >= agg["heur_acc"]
    assert agg["model_acc"] >= 0.9
    # the heuristic really is blind on the marker-free half
    assert agg["heur_acc"] <= 0.75
    # NULL/empty text scores without crashing
    nulls = spark.createDataFrame(
        [(900, None), (901, "")], "doc_id long, text string"
    )
    assert lang_classifier_score(clf, nulls).count() == 2
    # the scorer's temp columns are reserved: an input carrying one is
    # refused instead of being overwritten or made ambiguous
    for col in ("_lid_w", "_lid_b", "_lid_logits"):
        with pytest.raises(ValueError, match="reserved"):
            lang_classifier_score(clf, nulls.withColumn(col, F.lit(1.0)))


def test_c4_clean_lines_published_rules(spark):
    """C4 line rules (Raffel'20 §2.2): terminal punctuation, >=5 words,
    no 'javascript' lines — survivors rejoined in order; NULL text
    becomes empty; rules individually toggleable."""
    from datamunging_spark.operators.text import c4_clean_lines

    page = "\n".join([
        "This is a proper sentence with enough words.",   # keep
        "Too short.",                                      # <5 words
        "this line has plenty of words but no punct",     # no terminal
        "Please enable JavaScript to view the comments.",  # javascript
        'He said "use the quote ending here instead".',    # keep
        "Is this a question with enough words here?",      # keep
        "Trailing tab after punctuation keeps this line.\t",   # keep:
        "Trailing space also keeps this line right here. \r",  # strip ALL
        # trailing whitespace before the terminal test (C4 strips with
        # line.strip(); plain rtrim only eats 0x20 — r11 ADVICE)
    ])
    df = spark.createDataFrame(
        [(0, page), (1, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["text"] for r in c4_clean_lines(df).collect()}
    kept = got[0].split("\n")
    assert kept == [
        "This is a proper sentence with enough words.",
        'He said "use the quote ending here instead".',
        "Is this a question with enough words here?",
        "Trailing tab after punctuation keeps this line.\t",
        "Trailing space also keeps this line right here. \r",
    ]
    assert got[1] == ""
    # toggles: with punct rule off, the unpunctuated line survives
    loose = c4_clean_lines(
        df, require_terminal_punct=False, min_line_words=0,
        drop_javascript=False,
    ).collect()[0]["text"]
    assert loose == page


def test_c4_page_flags_published_rules(spark):
    """C4 page rules: sentence floor, lorem ipsum, curly brace,
    blocklist (whole-word, case-insensitive); c4_pass is the AND."""
    from datamunging_spark.operators.text import c4_page_flags

    rows = [
        (0, "One good sentence. Another one here! And a third, yes?"),
        (1, "Only two sentences. Right here."),
        (2, "Lorem Ipsum dolor sit amet. More text. Even more text."),
        (3, "function f() { return 1; } one. two. three."),
        (4, "A badword appears here. Second sentence. Third sentence."),
        (5, "badwordy is not the word itself. Two. Three."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in c4_page_flags(df, blocklist=["BadWord"]).collect()
    }
    assert got[0]["c4_pass"]
    assert not got[1]["min_sentences_ok"] and not got[1]["c4_pass"]
    assert not got[2]["no_lorem_ipsum"]
    assert not got[3]["no_curly_brace"]
    assert not got[4]["no_blocklist_hit"]
    assert got[5]["no_blocklist_hit"]  # whole-word: 'badwordy' is clean
    # sentence proxy: decimal points and mid-text dots don't count,
    # ellipsis counts once, the line rule's quote terminator counts
    proxy = spark.createDataFrame(
        [
            (0, "Version 1.2.3 of the app is out"),          # 0
            (1, "Wait... loading... done..."),                # 3
            (2, 'One."\nTwo here."\nThree lines end."'),     # 3
        ],
        "doc_id long, text string",
    )
    ps = {
        r["doc_id"]: r["min_sentences_ok"]
        for r in c4_page_flags(proxy, min_sentences=3).collect()
    }
    assert ps == {0: False, 1: True, 2: True}
    # zero-shuffle plans: pure maps over the scan (both faces)
    from datamunging_spark.operators.text import c4_clean_lines

    for face in (c4_page_flags(df), c4_clean_lines(df)):
        plan = face._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
