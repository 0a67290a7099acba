"""X1 dedup + X2 similarity: planted-duplicate recall and exact top-k."""

import pytest
from pyspark.sql import functions as F

from datamunging_spark.operators.dedup import (
    connected_component_labels,
    dup_groups,
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    ngram_jaccard,
    ngram_jaccard_pairs,
    simhash,
)
from datamunging_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def docs_with_dups(spark, tables):
    """Driver docs + planted exact and near duplicates."""
    base = tables["documents"].limit(50)
    exact = base.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    near = (
        base.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" xtra token")))
    )
    return base.union(exact).union(near)


def test_exact_dedup_removes_planted(docs_with_dups):
    out = exact_dedup(docs_with_dups)
    assert out.count() == 55  # 50 base + 5 near (not exact) survive
    assert out.filter(F.col("doc_id") >= 100000).filter(
        F.col("doc_id") < 200000
    ).count() == 0  # planted exact dups lost to min-id originals


def test_exact_dedup_keeps_null_text(spark):
    """NULL-text rows must not vanish: they hash as '' (coalesce), so one
    survivor is kept per NULL/''-text group instead of the join silently
    dropping every NULL hash key."""
    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, None), (4, ""), (5, "alpha")],
        "doc_id long, text string",
    )
    out = exact_dedup(df)
    kept = sorted(r["doc_id"] for r in out.collect())
    # alpha group -> 1; NULL/'' group (2,3,4 share the '' hash) -> 2
    assert kept == [1, 2]


def test_dup_groups(docs_with_dups):
    g = dup_groups(docs_with_dups)
    assert g.count() == 5
    assert g.agg(F.max("n_dups")).first()[0] == 2


def test_minhash_portable_matches_hashlib_reference(spark):
    """portable=True signatures, band keys, pairs and sig_jaccard are
    md5-portable: pinned VALUE-FOR-VALUE against a driver-side hashlib
    reference (the bernoulli_sample_portable / DSIR oracle discipline)
    — any engine with md5() reproduces them byte-identically, which is
    what promotes the fuzzy-dedup gate row to a full DuckDB oracle."""
    import hashlib
    import re

    from pyspark.sql import types as T

    from datamunging_spark.operators.dedup import minhash_signatures_df

    texts = {
        0: "the quick brown fox jumps over the lazy dog today",
        1: "the quick brown fox jumps over the lazy dog tonight",
        2: "completely different content about database engines here",
        3: "tiny doc",
        4: "the quick brown fox jumps over the lazy dog today",  # exact dup
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    NH, BANDS = 16, 4

    def shingles(t, n=3):
        toks = [
            w
            for w in re.sub(r"\s+", " ", t.lower()).strip().split(" ")
            if w
        ]
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    def ref_sig(t):
        hs = [hashlib.md5(sh.encode()).hexdigest() for sh in shingles(t)]
        return [
            min(
                hashlib.md5(f"{s}|{h}".encode()).hexdigest() for h in hs
            )
            for s in range(NH)
        ]

    sig_df = minhash_signatures_df(df, num_hashes=NH, portable=True)
    assert isinstance(sig_df.schema["_sig"].dataType.elementType, T.StringType)
    got = {r["doc_id"]: list(r["_sig"]) for r in sig_df.collect()}
    sigs = {i: ref_sig(t) for i, t in texts.items()}
    assert got == sigs
    # default path untouched: array<long> xxhash64 signatures
    assert isinstance(
        minhash_signatures_df(df, num_hashes=4)
        .schema["_sig"].dataType.elementType,
        T.LongType,
    )

    # pairs: band keys = md5 of the comma-joined slot slice; expected
    # pair set and sig_jaccard derived ENTIRELY from the reference
    def ref_bands(sig):
        rpb = NH // BANDS
        return [
            hashlib.md5(
                ",".join(sig[b * rpb:(b + 1) * rpb]).encode()
            ).hexdigest()
            for b in range(BANDS)
        ]

    exp = {}
    ids = sorted(texts)
    for a in ids:
        for b in ids:
            if a < b and any(
                x == y for x, y in zip(ref_bands(sigs[a]), ref_bands(sigs[b]))
            ):
                exp[(a, b)] = len(set(sigs[a]) & set(sigs[b])) / NH
    assert (0, 4) in exp  # the planted exact dup collides by construction
    got_pairs = {
        (r["id_a"], r["id_b"]): r["sig_jaccard"]
        for r in minhash_lsh_pairs(
            df, num_hashes=NH, bands=BANDS, portable=True
        ).collect()
    }
    assert got_pairs == exp


def test_incremental_minhash_portable_mismatch_raises(spark):
    """r12: the portable flag must match the snapshot's hash family —
    an xxhash64 snapshot consumed with portable=True (or vice versa)
    would band-join NOTHING silently; the schema makes the mismatch
    detectable, so it raises instead."""
    from datamunging_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures_df,
    )

    df = spark.createDataFrame(
        [(0, "some words here"), (1, "other words there")],
        "doc_id long, text string",
    )
    long_sig = minhash_signatures_df(df, num_hashes=4)
    str_sig = minhash_signatures_df(df, num_hashes=4, portable=True)
    with pytest.raises(ValueError, match="incomparable"):
        incremental_minhash_dedup(df, long_sig, num_hashes=4, portable=True)
    with pytest.raises(ValueError, match="incomparable"):
        incremental_minhash_dedup(df, str_sig, num_hashes=4)


def test_minhash_recall_on_near_dups(docs_with_dups):
    pairs = minhash_lsh_pairs(docs_with_dups, num_hashes=64, bands=16)
    found = {
        (r["id_a"], r["id_b"]) for r in pairs.collect()
    }
    planted = {(i, i + 200000) for i in range(5)}
    base_ids = [r["doc_id"] for r in docs_with_dups.select("doc_id").collect()]
    planted = {(i, i + 200000) for i in base_ids if i + 200000 in base_ids or i < 50}
    # recall: every planted near-dup pair (and exact pair) is a candidate
    near_expected = {(r, r + 200000) for r in sorted(base_ids)[:5]}
    exact_expected = {(r, r + 100000) for r in sorted(base_ids)[:5]}
    assert near_expected <= found
    assert exact_expected <= found


def test_minhash_dedup_drops_near(docs_with_dups):
    out = minhash_dedup(docs_with_dups, threshold=0.5)
    assert out.filter(F.col("doc_id") >= 100000).count() == 0
    # all 10 planted copies dropped; the driver corpus itself contains
    # planted near-dup pairs (FIXTURES.md F2), so a few base docs may
    # legitimately dedup away too.
    assert 45 <= out.count() <= 50


def test_connected_component_labels(spark):
    """Min-id label propagation on a graph with a star and a chain.

    Star (2,9),(5,9): 5's only neighbor has a HIGHER id, the exact shape
    where greedy (drop every id_b) keeps two docs of one cluster. Chain
    (10,11),(11,12),(12,13): labels need several rounds to propagate."""
    pairs = spark.createDataFrame(
        [(2, 9), (5, 9), (10, 11), (11, 12), (12, 13)], ["id_a", "id_b"]
    )
    comp = {
        r["v"]: r["component"]
        for r in connected_component_labels(pairs).collect()
    }
    assert comp == {2: 2, 5: 2, 9: 2, 10: 10, 11: 10, 12: 10, 13: 10}


def test_minhash_dedup_cc_beats_greedy_on_star(spark):
    """Transitive cluster via a hub doc with the LARGEST id: doc9 = A+B,
    doc0 ≈ A, doc5 ≈ B. Pairs found are (0,9) and (5,9) but never (0,5),
    so greedy drops only 9 (keeps 2 docs of the cluster) while CC keeps
    exactly the min-id root."""
    words = [f"t{i}" for i in range(60)]
    doc9 = " ".join(words)  # w0..w59
    doc0 = " ".join(words[:32])  # grams ⊂ doc9, J(0,9) ≈ 0.5
    doc5 = " ".join(words[30:])  # grams ⊂ doc9, J(5,9) ≈ 0.5, J(0,5) = 0
    df = spark.createDataFrame(
        [(0, doc0), (5, doc5), (9, doc9)], ["doc_id", "text"]
    )
    kw = dict(threshold=0.4, num_hashes=256, bands=128)
    greedy = {
        r["doc_id"]
        for r in minhash_dedup(df, method="greedy", **kw).collect()
    }
    cc = {r["doc_id"] for r in minhash_dedup(df, method="cc", **kw).collect()}
    assert greedy == {0, 5}  # the documented transitivity gap
    assert cc == {0}  # one survivor per cluster, and it's the min id


def test_ngram_jaccard_hot_shingle_valve(spark):
    """The max_gram_df valve keeps candidate generation near-linear when one
    shingle is ubiquitous. 30 docs share a boilerplate footer (pairwise
    J = 0.4): valve off → all C(30,2) pairs pass threshold 0.2; valve on →
    the shared grams (df=30 > 5) are dropped and only the planted near-dup
    pair survives. The gate entry x1_ngram_jaccard runs valve-OFF as the
    exact-oracle parity configuration; this test covers the scale path."""
    footer = "common boilerplate legal footer text here"
    rows = [(i, f"u{i}a u{i}b u{i}c " + footer) for i in range(30)]
    rows.append((31, rows[0][1].replace("u0b", "u0x")))  # near-dup of doc 0
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def pair_set(**kw):
        return {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, df, n=3, threshold=0.2, **kw)
            .filter(F.col("id_a") < F.col("id_b"))
            .collect()
        }

    dense = pair_set()
    assert len(dense) == 30 * 31 // 2  # boilerplate links every pair
    sparse = pair_set(max_gram_df=5)
    assert sparse == {(0, 31)}


def test_simhash_near_dups_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely different content about spark query engines here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["h"] for r in df.select("doc_id", simhash("text").alias("h")).collect()}
    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")
    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_curate_corpus_pipeline(docs_with_dups):
    """X1+X4 pipeline: near-dups dropped, short docs filtered, survivors
    keep the lowest id per content group; report rates are consistent."""
    from datamunging_spark.operators.pipeline import curate_corpus, curation_report

    out = curate_corpus(
        docs_with_dups, min_tokens=2, fuzzy=True, fuzzy_threshold=0.5
    )
    n_in, n_out = docs_with_dups.count(), out.count()
    assert 0 < n_out < n_in  # planted exact + near dups removed
    rep = curation_report(docs_with_dups, out).first()
    assert rep["n_in"] == n_in and rep["n_out"] == n_out
    assert abs(rep["survival_rate"] - n_out / n_in) < 1e-6


def test_ngram_jaccard(spark):
    df = spark.createDataFrame([("a b c d e", "a b c d x")], ["t1", "t2"])
    v = df.select(ngram_jaccard(F.col("t1"), F.col("t2"), 2).alias("j")).first()["j"]
    assert 0 < v < 1


def test_brute_force_topk_exact(tables, spark):
    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 3)
    out = brute_force_topk(probes, emb, k=5)
    rows = out.collect()
    assert len(rows) == 15
    # verify against a local numpy oracle
    import numpy as np

    data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for qid in range(3):
        q = data[qid]
        sims = {
            cid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            for cid, v in data.items() if cid != qid
        }
        expect = sorted(sims, key=lambda c: (-sims[c], c))[:5]
        got = [r["neighbor_id"] for r in sorted(rows, key=lambda r: r["rank"])
               if r["query_id"] == qid]
        assert got == expect


def test_lsh_topk_recall(tables):
    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(probes, emb, k=5).filter(F.col("rank") <= 1)
    approx = lsh_topk(probes, emb, k=5, n_planes=4, n_tables=16)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # recall@top1 with 8-table OR-amplification: most exact top-1s found
    assert len(e & a) >= len(e) // 2


def test_brute_force_arrow_cosine_same_ranking(tables):
    """arrow_cosine=True must produce the same neighbor ranking as the
    expression form (values equal up to float summation order)."""
    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 3)
    a = brute_force_topk(probes, emb, k=5).select(
        "query_id", "neighbor_id", "rank"
    )
    b = brute_force_topk(probes, emb, k=5, arrow_cosine=True).select(
        "query_id", "neighbor_id", "rank"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("thr", [0, 200_000], ids=["star", "driver"])
def test_connected_component_long_chain_converges(spark, thr):
    """A 26-hop chain whose min id sits at one end: plain one-hop label
    propagation would need >20 rounds (the bug class this pins); the
    large-star/small-star rewriting must converge within max_iter=10 and
    label every vertex with the global min (5). thr=0 forces the
    distributed star path; the default takes the driver union-find."""
    ids = [100] + list(range(2000, 2024)) + [5]
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), ["id_a", "id_b"]
    )
    comp = connected_component_labels(pairs, max_iter=10, driver_threshold=thr)
    assert {r["component"] for r in comp.collect()} == {5}
    assert comp.count() == 26


def test_minhash_dedup_invalid_method_raises_before_work(docs_with_dups):
    with pytest.raises(ValueError, match="unknown dedup method"):
        minhash_dedup(docs_with_dups, method="typo")


@pytest.mark.parametrize("thr", [0, 200_000], ids=["star", "driver"])
def test_connected_components_match_union_find_on_random_graph(spark, thr):
    """Property: both CC paths (distributed star rewriting at thr=0, the
    adaptive driver union-find at the default threshold) equal an
    independent reference union-find on a deterministic pseudo-random graph
    (120 vertices, 90 edges)."""
    import random

    rng = random.Random(7)
    verts = rng.sample(range(10_000), 120)
    edges = [
        tuple(rng.sample(verts, 2)) for _ in range(90)
    ]
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    expected = {v: find(v) for v in touched}
    # canonicalize to min-of-component
    comp_min = {}
    for v, r in expected.items():
        comp_min.setdefault(r, []).append(v)
    expected = {
        v: min(members)
        for r, members in comp_min.items()
        for v in members
    }

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["v"]: r["component"]
        for r in connected_component_labels(
            pairs, driver_threshold=thr
        ).collect()
    }
    assert got == expected


def test_embedding_quantization_roundtrip_and_topk_recall(tables):
    from datamunging_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = tables["embeddings"]
    q = quantize_embeddings(emb)
    # codes are int8-bounded, scale strictly positive
    bounds = q.select(
        F.array_max(F.transform("q_vec", lambda c: F.abs(c))).alias("mx"),
        "q_scale",
    )
    assert bounds.filter("mx > 127 OR q_scale <= 0").count() == 0
    # reconstruction error bounded by scale/2 per coordinate
    deq = dequantize_embeddings(q, out_col="recon")
    err = deq.select(
        F.array_max(
            F.zip_with("embedding", "recon", lambda a, b: F.abs(a - b))
        ).alias("e"),
        "q_scale",
    )
    assert err.filter(F.col("e") > F.col("q_scale") * 0.5 + 1e-12).count() == 0
    # top-5 on dequantized vectors keeps ≥ 0.85 recall vs float top-5
    # (cosine is scale-invariant; int8 rounding may swap near-ties only)
    probes = emb.filter(F.col("vec_id") < 3)
    a = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(probes, emb, k=5).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(
            dequantize_embeddings(
                quantize_embeddings(probes), out_col="embedding"
            ).select("vec_id", "embedding"),
            dequantize_embeddings(
                quantize_embeddings(emb), out_col="embedding"
            ).select("vec_id", "embedding"),
            k=5,
        ).collect()
    }
    assert len(a & b) / len(a) >= 0.85


@pytest.mark.parametrize("thr", [0, 200_000], ids=["star", "driver"])
def test_connected_components_self_loops_and_contract(spark, thr):
    """Every vertex appearing in pairs gets a label — including vertices
    seen only in self-loop pairs (they are their own component)."""
    pairs = spark.createDataFrame([(7, 7), (1, 2)], ["id_a", "id_b"])
    got = {
        r["v"]: r["component"]
        for r in connected_component_labels(
            pairs, driver_threshold=thr
        ).collect()
    }
    assert got == {7: 7, 1: 1, 2: 1}


def test_connected_components_string_ids_driver_path(spark):
    """The driver union-find must build its result DataFrame with the
    input's id type — string ids exercise the schema plumbing and the
    code-point vs UTF-8 min-ordering note."""
    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-c", "doc-b"), ("zz", "zz")],
        ["id_a", "id_b"],
    )
    got = {
        r["v"]: r["component"]
        for r in connected_component_labels(pairs).collect()
    }
    assert got == {
        "doc-a": "doc-a",
        "doc-b": "doc-a",
        "doc-c": "doc-a",
        "zz": "zz",
    }


def test_quantize_embeddings_nan_coordinate_is_isolated(spark):
    """One NaN coordinate must not poison the vector: scale comes from the
    finite coords, which quantize normally; the NaN coord alone goes NULL."""
    from datamunging_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, float("nan"), -2.0]), (2, [0.5, 0.25, 0.125])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert abs(rows[1]["q_scale"] - 2.0 / 127) < 1e-12
    assert rows[1]["q_vec"][0] == 64 and rows[1]["q_vec"][2] == -127
    assert rows[1]["q_vec"][1] is None
    assert rows[2]["q_vec"] == [127, 64, 32]


def test_paragraph_dedup_removes_repeated_boilerplate(spark):
    """The C4-style line dedup: a footer repeated across docs survives only
    in its first (min doc_id, min pos) occurrence; unique paragraphs and
    in-doc order are preserved."""
    from datamunging_spark.operators.dedup import paragraph_dedup

    footer = "subscribe to our newsletter"
    docs = [
        (1, f"alpha body one\n{footer}"),
        (2, f"beta body two\n{footer}\nbeta extra"),
        (3, footer),  # nothing but boilerplate
        (4, "gamma unique\ngamma second"),
    ]
    out = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }
    assert out[1] == f"alpha body one\n{footer}"  # first occurrence kept
    assert out[2] == "beta body two\nbeta extra"
    assert out[3] == ""  # fully-boilerplate doc reduced to empty
    assert out[4] == "gamma unique\ngamma second"


def test_paragraph_dedup_normalized_matching(spark):
    """Paragraph matching uses normalize_text: case/whitespace variants of
    the same paragraph count as duplicates, but the KEPT text is verbatim."""
    from datamunging_spark.operators.dedup import paragraph_dedup

    docs = [(1, "Same  Paragraph Here"), (2, "same paragraph   here")]
    out = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }
    assert out[1] == "Same  Paragraph Here" and out[2] == ""


def test_paragraph_dedup_blank_lines_and_metadata_preserved(spark):
    """Blank separator lines are structure, not dedupable content; extra
    columns survive; a literal-regex-metachar separator works."""
    from datamunging_spark.operators.dedup import paragraph_dedup

    docs = [
        (1, "a\n\nb", "u1"),
        (2, "c\n\nd", "u2"),  # its blank line must NOT dedup away
    ]
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(
            spark.createDataFrame(docs, ["doc_id", "text", "url"])
        ).collect()
    }
    assert out[2]["text"] == "c\n\nd"
    assert out[1]["url"] == "u1" and out[2]["url"] == "u2"
    # regex-metachar separator treated literally
    dot = paragraph_dedup(
        spark.createDataFrame([(1, "x.y"), (2, "z.x")], ["doc_id", "text"]),
        sep=".",
    )
    got = {r["doc_id"]: r["text"] for r in dot.collect()}
    assert got == {1: "x.y", 2: "z"}  # dropped paragraph takes its separator


def test_curate_corpus_with_paragraph_dedup(spark):
    """para_dedup collapses docs that differ only in shared boilerplate:
    after line dedup their remaining content hashes equal -> one survivor."""
    from datamunging_spark.operators.pipeline import curate_corpus

    footer = "all rights reserved contact us terms"
    docs = [
        (1, f"real content one two three\n{footer}", "web"),
        (2, f"real content one two three\n{footer}", "web"),  # exact dup
        (3, f"other interesting content here now\n{footer}", "web"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = curate_corpus(
        df, min_tokens=2, fuzzy=False, para_dedup=True
    )
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    # doc 1 keeps the footer's first occurrence; doc 2 shrinks to an
    # empty remnant (its every paragraph was seen first in doc 1) and the
    # refilter drops it; doc 3 keeps its unique content, footer stripped
    assert set(rows) == {1, 3}
    assert footer in rows[1] and footer not in rows[3]


def test_incremental_dedup_against_snapshot(spark):
    """Continuous-ingest dedup: a new batch anti-joins a prior corpus'
    slim content_snapshot (normalized-hash semantics), then dedups within
    itself; within_batch=False skips the intra-batch pass."""
    from datamunging_spark.operators.dedup import (
        content_snapshot,
        incremental_dedup,
    )

    history = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "hello world")],
        ["doc_id", "text"],
    )
    snap = content_snapshot(history)
    assert snap.columns == ["content_hash"] and snap.count() == 2
    batch = spark.createDataFrame(
        [
            (10, "The  Quick   Brown Fox"),   # dup of history #1 (normalized)
            (11, "brand new document"),        # fresh
            (12, "brand  NEW document"),       # intra-batch dup of 11
            (13, "another fresh one"),         # fresh
            (14, None),                        # NULL text: fresh ('' not seen)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in incremental_dedup(batch, snap).collect()}
    assert out == {11, 13, 14}  # 10 seen; 12 loses to 11; NULL survives once
    no_batch = {
        r["doc_id"]
        for r in incremental_dedup(batch, snap, within_batch=False).collect()
    }
    assert no_batch == {11, 12, 13, 14}
    # composing: snapshot(history) + snapshot(survivors) covers the batch
    snap2 = snap.union(
        content_snapshot(incremental_dedup(batch, snap))
    ).distinct()
    assert incremental_dedup(batch, snap2).count() == 0


def test_incremental_minhash_dedup_against_signature_snapshot(spark, tables):
    """Fuzzy incremental ingest: a batch is near-deduped against history
    represented ONLY by its persisted MinHash signature table — near-dups
    of historical docs drop, fresh docs survive, intra-batch near-dups
    collapse to one survivor."""
    from datamunging_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures_df,
    )

    # orderBy before limit + localCheckpoint pins WHICH 50 docs form the
    # history, so near_hist below derives from the exact docs that were
    # signed (an unordered limit could re-pick on re-execution).
    history = (
        tables["documents"]
        .orderBy("doc_id")
        .limit(50)
        .select("doc_id", "text")
        .localCheckpoint()
    )
    hist_sig = minhash_signatures_df(history).localCheckpoint()
    near_hist = (  # 5 near-dups of historical docs (one extra token)
        history.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" xtra token")))
    )
    fresh = (
        tables["documents"]
        .filter(F.col("doc_id").between(200, 209))
        .select("doc_id", "text")
    )
    fresh_near = (  # intra-batch near-dups of the fresh docs
        fresh.limit(3)
        .withColumn("doc_id", F.col("doc_id") + 300000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tok")))
    )
    batch = near_hist.union(fresh).union(fresh_near)
    out = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            batch, hist_sig, threshold=0.5
        ).collect()
    }
    assert not any(100000 <= i < 200000 for i in out)  # history near-dups gone
    assert set(range(200, 210)) <= out                 # fresh docs survive
    assert not any(i >= 300000 for i in out)           # lost to min-id fresh
    no_batch = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            batch, hist_sig, threshold=0.5, within_batch=False
        ).collect()
    }
    assert any(i >= 300000 for i in no_batch)          # intra-batch kept


@pytest.mark.slow
def test_advance_snapshot_closes_incremental_loop(spark, tables):
    """Roll-forward (advance_snapshot) closes the continuous-ingest loop:
    after folding a batch's survivors into the content + signature
    snapshots, re-ingesting that SAME batch yields zero survivors (exact
    AND fuzzy) — the idempotence property a crawl pipeline relies on —
    and a second batch mixing exact dups, a near-dup of history, and
    fresh docs keeps exactly the fresh docs."""
    from datamunging_spark.operators.dedup import (
        Snapshots,
        advance_snapshot,
        incremental_dedup,
        incremental_minhash_dedup,
        minhash_signatures_df,
    )

    def pin(s):
        return Snapshots(
            s.content.localCheckpoint(), s.signatures.localCheckpoint()
        )

    docs = tables["documents"].select("doc_id", "text")
    batch1 = exact_dedup(docs.filter(F.col("doc_id") < 30)).localCheckpoint()
    n1 = batch1.count()
    snaps = pin(advance_snapshot(batch1))  # bootstrap from first batch
    assert snaps.content.count() == n1
    assert snaps.signatures.count() == n1

    # Idempotence: re-ingesting batch 1 yields zero survivors both ways.
    assert incremental_dedup(batch1, snaps.content).count() == 0
    assert (
        incremental_minhash_dedup(
            batch1, snaps.signatures, threshold=0.5
        ).count()
        == 0
    )

    # Batch 2: exact dups of history + a near-dup of history + fresh docs.
    overlap = batch1.filter(F.col("doc_id") < 10)
    near = (
        batch1.filter(F.col("doc_id") == 15)
        .withColumn("doc_id", F.lit(900000).cast(batch1.schema["doc_id"].dataType))
        .withColumn("text", F.concat(F.col("text"), F.lit(" xtra token")))
    )
    fresh = docs.filter(F.col("doc_id").between(100, 109))
    batch2 = overlap.union(near).union(fresh).localCheckpoint()
    s1 = incremental_dedup(batch2, snaps.content).localCheckpoint()
    s2 = incremental_minhash_dedup(
        s1, snaps.signatures, threshold=0.5
    ).localCheckpoint()
    ids = {r["doc_id"] for r in s2.collect()}
    assert ids == set(range(100, 110))

    # Roll forward with batch 2's survivors; re-ingesting batch 2 is now
    # a no-op and the snapshots grew by exactly the survivor count.
    snaps2 = pin(advance_snapshot(s2, snaps))
    assert snaps2.content.count() == n1 + len(ids)
    assert snaps2.signatures.count() == n1 + len(ids)
    r1 = incremental_dedup(batch2, snaps2.content)
    assert (
        incremental_minhash_dedup(
            r1, snaps2.signatures, threshold=0.5
        ).count()
        == 0
    )

    # Parameter drift between runs is refused, not silently tolerated.
    with pytest.raises(ValueError, match="num_hashes"):
        advance_snapshot(fresh, snaps2, num_hashes=32)
    with pytest.raises(ValueError, match="shingle_words"):
        advance_snapshot(fresh, snaps2, shingle_words=2)

    # survivor_sig fast path (no re-signing) advances to the same state.
    alt = advance_snapshot(
        s2, snaps, survivor_sig=minhash_signatures_df(s2)
    )
    assert alt.signatures.count() == n1 + len(ids)
    assert (
        alt.signatures.join(
            snaps2.signatures, on=["doc_id", "_sig", "_sw"], how="anti"
        ).count()
        == 0
    )


def test_ingest_batch_full_cycle(spark, tables):
    """ingest_batch = exact vs snapshot -> fuzzy vs snapshot -> intra-batch
    -> roll-forward, signing the batch once. Bootstrap, mixed second batch,
    idempotent re-ingest, and equivalence with the hand-composed pipeline."""
    from datamunging_spark.operators.dedup import (
        incremental_dedup,
        incremental_minhash_dedup,
        ingest_batch,
    )

    docs = tables["documents"].select("doc_id", "text")
    batch1 = docs.filter(F.col("doc_id") < 30).localCheckpoint()
    surv1, snaps = ingest_batch(batch1, threshold=0.5)
    n1 = surv1.count()
    assert n1 > 0
    assert snaps.content.count() == n1
    assert snaps.signatures.count() == n1

    # Re-ingesting batch 1 is a no-op and leaves snapshot sizes unchanged.
    again, snaps_same = ingest_batch(batch1, snaps, threshold=0.5)
    assert again.count() == 0
    assert snaps_same.content.count() == n1
    assert snaps_same.signatures.count() == n1

    # Mixed batch 2: exact dup of history, near-dup of history, fresh docs.
    near = (
        batch1.filter(F.col("doc_id") == 5)
        .withColumn("doc_id", F.lit(900000).cast(batch1.schema["doc_id"].dataType))
        .withColumn("text", F.concat(F.col("text"), F.lit(" xtra token")))
    )
    fresh = docs.filter(F.col("doc_id").between(100, 109))
    batch2 = batch1.limit(5).union(near).union(fresh).localCheckpoint()
    surv2, snaps2 = ingest_batch(batch2, snaps, threshold=0.5)
    ids = {r["doc_id"] for r in surv2.collect()}
    assert ids == set(range(100, 110))
    assert snaps2.content.count() == n1 + len(ids)
    assert snaps2.signatures.count() == n1 + len(ids)

    # Equivalence with the hand-composed incremental pipeline.
    manual = incremental_minhash_dedup(
        incremental_dedup(batch2, snaps.content).localCheckpoint(),
        snaps.signatures,
        threshold=0.5,
    )
    assert {r["doc_id"] for r in manual.collect()} == ids


def test_snapshot_parquet_roundtrip(spark, tables, tmp_path):
    """Persisted snapshots (write_snapshots -> read_snapshots) drive the
    next ingest identically to the in-memory pair: re-ingesting the same
    batch from the loaded state yields zero survivors, and a fuzzy-only
    (content=None) pair round-trips as None."""
    from datamunging_spark.operators.dedup import (
        Snapshots,
        ingest_batch,
        read_snapshots,
        write_snapshots,
    )

    docs = tables["documents"].select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") < 25).localCheckpoint()
    surv, snaps = ingest_batch(batch, threshold=0.5)
    n = surv.count()
    write_snapshots(snaps, str(tmp_path / "snap_0001"))
    loaded = read_snapshots(spark, str(tmp_path / "snap_0001"))
    assert loaded.content is not None and loaded.content.count() == n
    assert loaded.signatures is not None and loaded.signatures.count() == n
    again, snaps2 = ingest_batch(batch, loaded, threshold=0.5)
    assert again.count() == 0
    # versioned write of the rolled-forward state (reads snap_0001) works
    write_snapshots(snaps2, str(tmp_path / "snap_0002"))
    assert read_snapshots(spark, str(tmp_path / "snap_0002")).content.count() == n
    # partial pair: missing subdirectory loads as None
    write_snapshots(
        Snapshots(None, snaps.signatures), str(tmp_path / "fuzzy_only")
    )
    partial = read_snapshots(spark, str(tmp_path / "fuzzy_only"))
    assert partial.content is None and partial.signatures.count() == n


def test_curate_corpus_redact_with_para_dedup(spark):
    """Everything-on composition (redact=True, para_dedup=True, fuzzy=True):
    redaction runs LAST, so dedup keys see ORIGINAL content — two docs that
    differ only inside PII spans must both survive (distinct pre-redaction
    hashes) yet come out masked; boilerplate still dedups across docs."""
    from datamunging_spark.operators.pipeline import curate_corpus

    footer = "all rights reserved contact us terms"
    docs = [
        (1, f"mail me at alice@example.com for details\n{footer}", "web"),
        (2, f"mail me at bob@example.org for details\n{footer}", "web"),
        (3, f"totally unrelated interesting content here\n{footer}", "web"),
        (4, f"totally unrelated interesting content here\n{footer}", "web"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = curate_corpus(
        df, min_tokens=2, fuzzy=True, fuzzy_threshold=0.5,
        para_dedup=True, redact=True,
    )
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    # docs 1+2 differ only in the email span -> both survive, both masked;
    # docs 3+4 are exact dups post-para-dedup -> min-id survivor only
    assert set(rows) == {1, 2, 3}
    assert "<EMAIL>" in rows[1] and "<EMAIL>" in rows[2]
    assert "alice@example.com" not in rows[1]
    assert "bob@example.org" not in rows[2]
    # footer survives only in its globally-first doc
    assert footer in rows[1]
    assert footer not in rows[2] and footer not in rows[3]


def test_dedupe_lines_within_doc(spark):
    """Intra-doc line dedup: later repeats of a normalized line vanish,
    first occurrences and blank structure stay, other docs untouched,
    NULL text passes through."""
    from datamunging_spark.operators.dedup import dedupe_lines_within_doc

    rows = [
        (1, "Buy now\nreal content one\n\nBUY  NOW\nreal content two\nbuy now"),
        (2, "unique a\nunique b"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in dedupe_lines_within_doc(df).collect()}
    assert got[1] == "Buy now\nreal content one\n\nreal content two"
    assert got[2] == "unique a\nunique b"
    assert got[3] is None


def test_simhash_pairs_banding_guarantee_and_sign_bits(spark):
    """Banded SimHash pair-finding on synthetic hashes: hamming <= 3 pairs
    are found (pigeonhole EXACT recall at 4 bands), hamming 4 is filtered,
    and bit-63 (sign bit) chunks join correctly."""
    from datamunging_spark.operators.dedup import simhash_pairs

    h4 = 0x0123456789ABCDEF
    h5 = (h4 | (1 << 63)) - (1 << 64)  # h4 with the sign bit set: hamming 1
    sh = spark.createDataFrame(
        [(1, 0), (2, 0b111), (3, 0b1111 << 12), (4, h4), (5, h5)],
        "doc_id long, sh long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(sh, _precomputed_sh=sh).collect()
    }
    assert got == {(1, 2): 3, (4, 5): 1}  # (1,3)=hamming 4 filtered

    import pytest
    with pytest.raises(ValueError, match="divide 64"):
        simhash_pairs(sh, bands=5, _precomputed_sh=sh)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(sh, max_hamming=4, bands=4, _precomputed_sh=sh)


def test_simhash_dedup_end_to_end(spark):
    """simhash_dedup keeps min id per hamming cluster: an exact duplicate
    (hamming 0) loses to the original; distinct content survives."""
    from datamunging_spark.operators.dedup import simhash_dedup

    txt = "the quick brown fox jumps over the lazy dog again today"
    df = spark.createDataFrame(
        [(1, txt), (7, txt), (3, "completely different topic entirely here now")],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in simhash_dedup(df).collect())
    assert kept == [1, 3]


def test_curate_corpus_url_gopher_line_stages(spark):
    """New curate_corpus stages compose: URL dedup drops a duplicate fetch
    before text work, the Gopher gate kills a gibberish doc the basic
    filters pass, and line_dedup scrubs intra-doc repeats so the exact
    stage sees cleaned text (two docs differing only by a repeated line
    collapse to one)."""
    from datamunging_spark.operators.pipeline import curate_corpus

    body = "the quick brown fox jumps with energy and " + " ".join(
        f"word{i} that have been seen of the and to be" for i in range(10)
    )
    gibberish = " ".join(f"zzqx{i}vw" for i in range(80))  # no stopwords
    rows = [
        (1, body, "https://www.site.com/a?utm_source=t"),
        (2, body + " distinct tail marker", "http://site.com/a/"),  # URL dup of 1
        (3, gibberish, "https://site.com/g"),
        (4, body + "\nrepeat me\nmiddle extra line\nrepeat me", "https://site.com/d4"),
        (5, body + "\nrepeat me\nmiddle extra line\nrepeat me\nrepeat me", "https://site.com/d5"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "url"])
    out = curate_corpus(
        df, min_tokens=2, fuzzy=False, gopher=True, line_dedup=True,
        url_col="url",
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    # 2 lost to URL identity; 3 lost to the stopword rule; 5 collapses
    # onto 4 once line_dedup makes their texts identical.
    assert kept == [1, 4]
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert texts[4].count("repeat me") == 1


def test_minhash_clusters_labels(docs_with_dups):
    """Cluster labeling: every doc gets a cluster_id; planted near-dups
    share their original's cluster (min id); unrelated docs are singleton
    clusters; row count is preserved (nothing dropped)."""
    from datamunging_spark.operators.dedup import minhash_clusters

    out = minhash_clusters(docs_with_dups, threshold=0.5)
    assert out.count() == docs_with_dups.count()
    rows = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    base_ids = sorted(i for i in rows if i < 100000)[:5]
    for i in base_ids:
        assert rows[i + 100000] == rows[i]  # exact copy joins the cluster
        assert rows[i + 200000] == rows[i]  # near-dup joins the cluster
        assert rows[i] == i                 # cluster id = min member id


def test_ivf_build_search_split_matches_fused(tables):
    """Build-once/search-many equals the fused ivf_topk (same seed), and a
    second query batch reuses the index without refitting."""
    from datamunging_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        ivf_topk,
    )

    emb = tables["embeddings"]
    q1 = emb.filter(F.col("vec_id") < 3)
    q2 = emb.filter(F.col("vec_id").between(3, 5))
    idx = ivf_build(emb, n_clusters=8)
    idx.assigned = idx.assigned.localCheckpoint()  # reuse without refit
    a = ivf_search(q1, idx, k=5, n_probe=4)
    b = ivf_topk(q1, emb, k=5, n_clusters=8, n_probe=4)
    ra = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb
    c = ivf_search(q2, idx, k=5, n_probe=4).collect()
    assert len(c) == 15 and {r["query_id"] for r in c} == {3, 4, 5}


def test_lsh_build_search_split_matches_fused(tables):
    """LSH build-once/search-many equals the fused lsh_topk at the same
    seed; a second batch reuses the persisted bucket table."""
    from datamunging_spark.operators.similarity import (
        lsh_build,
        lsh_search,
        lsh_topk,
    )

    emb = tables["embeddings"]
    q1 = emb.filter(F.col("vec_id") < 3)
    idx = lsh_build(emb, n_tables=16)
    idx.bucketed = idx.bucketed.localCheckpoint()
    a = lsh_search(q1, idx, k=5)
    b = lsh_topk(q1, emb, k=5, n_tables=16)
    ra = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in a.orderBy("query_id", "rank").collect()]
    rb = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in b.orderBy("query_id", "rank").collect()]
    assert ra == rb
    q2 = emb.filter(F.col("vec_id").between(3, 5))
    c = lsh_search(q2, idx, k=5).collect()
    assert {r["query_id"] for r in c} == {3, 4, 5}


def test_semantic_dedup_removes_planted_embedding_copies(spark, tables):
    """SemDeDup: plant near-identical embedding copies (tiny perturbation of
    existing vectors under fresh ids); semantic_dedup must drop every copy
    (cosine vs its source ≈ 1 ≥ threshold, and KMeans puts near-identical
    vectors in the same cell), keep the copy's source, and — at a threshold
    above the corpus's own planted near-dup band — leave genuinely distinct
    vectors alone."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import (
        semantic_dedup,
        semantic_neardup_pairs,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 900000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(1.0) + F.lit(1e-4)
        ).alias("embedding"),
    )
    corpus = emb.unionByName(copies)
    out = semantic_dedup(
        corpus, id_col="vec_id", threshold=0.999, n_clusters=8
    )
    kept = {r["vec_id"] for r in out.select("vec_id").collect()}
    # every planted copy gone, every source retained
    assert not any(v >= 900000 for v in kept)
    assert all(v in kept for v in range(10))
    # residual invariant: re-pairing the survivors finds nothing
    assert (
        semantic_neardup_pairs(
            out, id_col="vec_id", threshold=0.999, n_clusters=8
        ).count()
        == 0
    )


def test_semantic_neardup_pairs_reuses_prebuilt_index(spark, tables):
    """Passing a prebuilt IvfIndex skips the KMeans fit and yields the same
    pairs as the fused call (same seed → same clustering)."""
    from datamunging_spark.operators.dedup import semantic_neardup_pairs
    from datamunging_spark.operators.similarity import ivf_build

    emb = tables["embeddings"].select("vec_id", "embedding")
    idx = ivf_build(emb, corpus_id="vec_id", n_clusters=8)
    fused = semantic_neardup_pairs(
        emb, id_col="vec_id", threshold=0.9, n_clusters=8
    )
    reused = semantic_neardup_pairs(
        emb, id_col="vec_id", threshold=0.9, index=idx
    )
    assert sorted(map(tuple, fused.select("id_a", "id_b").collect())) == sorted(
        map(tuple, reused.select("id_a", "id_b").collect())
    )


def _semantic_snapshot_of(tables, hi=100):
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import semantic_snapshot

    hist = tables["embeddings"].select("vec_id", "embedding").filter(
        F.col("vec_id") < hi
    )
    return hist, semantic_snapshot(hist, id_col="vec_id", n_clusters=8)


def test_incremental_semantic_dedup_history_wins(spark, tables):
    """Batch-vs-history SemDeDup under a FROZEN clustering: perturbed
    copies of history vectors are dropped (history wins, its rows
    untouched), genuinely new vectors survive, and the within-batch pass
    keeps exactly one of a planted intra-batch near-identical pair."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import (
        incremental_semantic_dedup,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    hist, snap = _semantic_snapshot_of(tables)
    hist_copies = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 900000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(1.0) + F.lit(1e-4)
        ).alias("embedding"),
    )
    new_vecs = emb.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 220)
    ).select((F.col("vec_id") + 910000).alias("vec_id"), "embedding")
    intra_pair = emb.filter(F.col("vec_id") == 250).select(
        (F.col("vec_id") + 920000).alias("vec_id"), "embedding"
    ).unionByName(
        emb.filter(F.col("vec_id") == 250).select(
            (F.col("vec_id") + 930000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(1.0) + F.lit(1e-4)
            ).alias("embedding"),
        )
    )
    batch = hist_copies.unionByName(new_vecs).unionByName(intra_pair)
    out = incremental_semantic_dedup(
        batch, snap, id_col="vec_id", threshold=0.999
    )
    kept = {r["vec_id"] for r in out.select("vec_id").collect()}
    assert not any(900000 <= v < 910000 for v in kept)  # history wins
    assert all(910000 + 200 + i in kept for i in range(20))  # new survive
    # exactly the min-id copy of the intra-batch pair survives
    assert 920250 in kept and 930250 not in kept


def test_incremental_semantic_replay_is_harmless(spark, tables):
    """Roll-forward + replay: advance the snapshot with a batch's
    survivors, then re-ingest the SAME batch — every row now near-dups
    history (itself), so the replay yields zero survivors and the
    snapshot is unchanged by a second advance with the empty increment
    (the append-only replay contract of advance_snapshot)."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import (
        advance_semantic_snapshot,
        incremental_semantic_dedup,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    hist, snap = _semantic_snapshot_of(tables)
    batch = emb.filter(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 320)
    ).select((F.col("vec_id") + 940000).alias("vec_id"), "embedding")
    surv, inc = incremental_semantic_dedup(
        batch, snap, id_col="vec_id", threshold=0.999,
        _return_assigned=True,
    )
    n1 = surv.count()
    assert n1 == 20
    snap2 = advance_semantic_snapshot(snap, inc)
    assert snap2.assigned.count() == 100 + n1
    replay, inc2 = incremental_semantic_dedup(
        batch, snap2, id_col="vec_id", threshold=0.999,
        _return_assigned=True,
    )
    assert replay.count() == 0
    snap3 = advance_semantic_snapshot(snap2, inc2)
    assert snap3.assigned.count() == snap2.assigned.count()


def test_incremental_semantic_dim_drift_raises(spark, tables):
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import (
        incremental_semantic_dedup,
    )

    hist, snap = _semantic_snapshot_of(tables)
    bad = hist.select(
        (F.col("vec_id") + 950000).alias("vec_id"),
        F.slice("embedding", 1, 32).alias("embedding"),
    )
    try:
        incremental_semantic_dedup(bad, snap, id_col="vec_id")
        raise AssertionError("expected dimension-drift ValueError")
    except ValueError as e:
        assert "dimension drift" in str(e)


def test_incremental_semantic_centroid_drift_raises(spark, tables):
    """A batch far outside the fitted embedding distribution must refuse
    (frozen cells would silently lose recall), and max_drift=None
    accepts it."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import (
        incremental_semantic_dedup,
    )

    hist, snap = _semantic_snapshot_of(tables)
    shifted = hist.select(
        (F.col("vec_id") + 960000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(50.0)).alias(
            "embedding"
        ),
    )
    try:
        incremental_semantic_dedup(shifted, snap, id_col="vec_id")
        raise AssertionError("expected centroid-drift ValueError")
    except ValueError as e:
        assert "centroid drift" in str(e)
    # max_drift=None accepts the batch (documented recall-loss opt-in);
    # no count assertion — the +50 shift makes every vector nearly
    # parallel to the ones-direction, so the within-batch pass rightly
    # collapses most of them
    out = incremental_semantic_dedup(
        shifted, snap, id_col="vec_id", threshold=0.999, max_drift=None
    )
    assert out.count() >= 1


def test_incremental_semantic_empty_batch_and_advance_guard(spark, tables):
    from pyspark.sql import functions as F

    from datamunging_spark.operators.dedup import (
        advance_semantic_snapshot,
        incremental_semantic_dedup,
    )

    hist, snap = _semantic_snapshot_of(tables)
    empty = hist.filter(F.lit(False)).select("vec_id", "embedding")
    out, inc = incremental_semantic_dedup(
        empty, snap, id_col="vec_id", _return_assigned=True
    )
    assert out.count() == 0 and inc.count() == 0
    try:
        advance_semantic_snapshot(snap, hist)
        raise AssertionError("expected schema-guard ValueError")
    except ValueError as e:
        assert "_return_assigned" in str(e)


def test_centroid_scores_prototypes_score_highest(spark, tables):
    """D4 prototypicality: planted exact copies of one vector form a dense
    clump, so their centroid cosine must exceed the corpus median; scores
    are in [-1, 1]; every doc gets exactly one (cluster, score) row; and
    the generic band util cuts per-cluster bands over the score."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.similarity import centroid_scores
    from datamunging_spark.operators.text import lm_quality_bands

    emb = tables["embeddings"].select("vec_id", "embedding")
    clump = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 800000).alias("vec_id"), "embedding"
    )
    for k in range(1, 6):
        clump = clump.unionByName(
            emb.filter(F.col("vec_id") == 0).select(
                (F.col("vec_id") + 800000 + k).alias("vec_id"), "embedding"
            )
        )
    corpus = emb.unionByName(clump)
    scored = centroid_scores(corpus, n_clusters=8).localCheckpoint()
    assert scored.count() == corpus.count()
    r = scored.agg(
        F.min("centroid_cosine").alias("lo"),
        F.max("centroid_cosine").alias("hi"),
        F.expr("percentile_approx(centroid_cosine, 0.5)").alias("med"),
    ).collect()[0]
    assert -1.0 - 1e-9 <= r["lo"] and r["hi"] <= 1.0 + 1e-9
    clump_min = (
        scored.filter(F.col("vec_id") >= 800000)
        .agg(F.min("centroid_cosine").alias("m"))
        .collect()[0]["m"]
    )
    assert clump_min > r["med"]
    # score-agnostic banding per cluster: bands partition the corpus
    banded = lm_quality_bands(
        scored,
        score_col="centroid_cosine",
        group_cols=["cluster_id"],
        head=0.2,
        tail=0.2,
        band_col="proto_band",
    )
    counts = {
        r["proto_band"]: r["n"]
        for r in banded.groupBy("proto_band").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"head", "middle", "tail"}
    assert sum(counts.values()) == corpus.count()


def test_pq_adc_approximation_and_planted_retrieval(spark, tables):
    """PQ round trip: fit -> encode (m codes per vector) -> ADC top-k.
    The driver embeddings are near-random (pairwise cosines within ±0.35),
    so ranking-recall against brute force is noise by construction; the
    sound properties are (a) ADC scores approximate true dot products
    within quantization error, and (b) a planted exact copy of each query
    (true dot = 1, far outside the corpus cosine spread) is retrieved at
    rank 1."""
    import numpy as np
    from pyspark.sql import functions as F

    from datamunging_spark.operators.similarity import (
        pq_encode,
        pq_fit,
        pq_topk,
    )

    from datamunging_spark.functions import l2_norm

    emb = tables["embeddings"].select("vec_id", "embedding")
    unit = emb.withColumn("_n", l2_norm(F.col("embedding"))).select(
        "vec_id",
        F.transform(
            "embedding", lambda v: v.cast("double") / F.col("_n")
        ).alias("embedding"),
    ).localCheckpoint()
    queries = unit.filter(F.col("vec_id") < 8)
    copies = queries.select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    corpus = unit.unionByName(copies).localCheckpoint()

    cb = pq_fit(corpus, m=8, k=16, iters=5)
    enc = pq_encode(corpus, cb).localCheckpoint()
    row = enc.collect()[0]
    assert len(row["pq_codes"]) == 8
    assert all(0 <= c < 16 for c in row["pq_codes"])

    out = pq_topk(queries, enc, cb, k=49).collect()
    X = {r["vec_id"]: np.array(r["embedding"]) for r in corpus.collect()}
    errs = [
        abs(r["score"] - float(X[r["query_id"]] @ X[r["neighbor_id"]]))
        for r in out
    ]
    assert np.mean(errs) < 0.15 and np.percentile(errs, 95) < 0.3

    rank1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert rank1 == {q: q + 900000 for q in range(8)}


def test_ivf_pq_topk_full_probe_equals_flat_pq(spark, tables):
    """IVF-PQ with n_probe = n_clusters degrades to the flat PQ scan
    exactly (same codes, same ADC scores, same ranking), and with planted
    exact copies a narrow probe still retrieves each query's copy at
    rank 1 (identical vectors share a cell by construction)."""
    from pyspark.sql import functions as F

    from datamunging_spark.operators.similarity import (
        ivf_build,
        ivf_pq_topk,
        pq_encode,
        pq_encode_cells,
        pq_fit,
        pq_topk,
    )

    from datamunging_spark.functions import l2_norm

    emb = tables["embeddings"].select("vec_id", "embedding")
    unit = emb.withColumn("_n", l2_norm(F.col("embedding"))).select(
        "vec_id",
        F.transform(
            "embedding", lambda v: v.cast("double") / F.col("_n")
        ).alias("embedding"),
    )
    queries = unit.filter(F.col("vec_id") < 6)
    copies = queries.select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    corpus = unit.unionByName(copies).localCheckpoint()

    idx = ivf_build(corpus, corpus_id="vec_id", n_clusters=8)
    cb = pq_fit(corpus, m=8, k=16, iters=5)
    enc_cells = pq_encode_cells(idx, cb).localCheckpoint()

    full = ivf_pq_topk(
        queries, idx, cb, enc_cells, k=5, n_probe=8
    ).collect()
    flat = pq_topk(queries, pq_encode(corpus, cb), cb, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(
        [(r["query_id"], r["rank"], r["neighbor_id"], r["score"]) for r in full]
    ) == sorted(
        [(r["query_id"], r["rank"], r["neighbor_id"], r["score"]) for r in flat]
    )

    narrow = ivf_pq_topk(queries, idx, cb, enc_cells, k=5, n_probe=1)
    rank1 = {
        r["query_id"]: r["neighbor_id"]
        for r in narrow.collect()
        if r["rank"] == 1
    }
    assert rank1 == {q: q + 900000 for q in range(6)}


def test_corpus_overlap_report_exact_and_fuzzy(spark):
    """corpus_overlap_report: planted exact overlap counted exactly
    (cross-checked against DuckDB's md5-of-normalized-text semi-join),
    fuzzy band candidates upper-bound the near-dup set and include the
    paraphrase the exact side misses; empty b handled."""
    import duckdb

    from datamunging_spark.operators.dedup import corpus_overlap_report

    a_rows = [
        (i, f"document number {i} about topic {i % 5} with shared words")
        for i in range(20)
    ]
    b_rows = (
        [(100 + i, a_rows[i][1]) for i in range(6)]        # 6 exact dups
        + [(200, a_rows[7][1] + " extra")]                 # near-dup only
        + [(201, "completely unrelated fresh content here")]
    )
    a = spark.createDataFrame(a_rows, "doc_id long, text string")
    b = spark.createDataFrame(b_rows, "doc_id long, text string")
    r = corpus_overlap_report(a, b).collect()[0]
    assert (r["docs_a"], r["docs_b"]) == (20, 8)
    assert r["exact_shared"] == 6
    assert r["pct_b_in_a"] == round(6 / r["distinct_b"], 6)
    # DuckDB cross-check of the exact side (same md5-of-normalized
    # contract)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ta AS SELECT * FROM (VALUES "
        + ",".join(f"(?)" for _ in a_rows) + ") t(text)",
        [t for _, t in a_rows],
    )
    con.execute(
        "CREATE TABLE tb AS SELECT * FROM (VALUES "
        + ",".join(f"(?)" for _ in b_rows) + ") t(text)",
        [t for _, t in b_rows],
    )
    norm = "md5(trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g')))"
    want = con.execute(
        f"SELECT count(*) FROM (SELECT DISTINCT {norm} h FROM tb) b "
        f"WHERE h IN (SELECT DISTINCT {norm} FROM ta)"
    ).fetchone()[0]
    assert r["exact_shared"] == want
    # fuzzy: candidates include the 6 exact dups AND the paraphrase
    rf = corpus_overlap_report(a, b, fuzzy=True, bands=16).collect()[0]
    assert rf["fuzzy_candidates_b"] >= 7
    assert rf["pct_b_near_a"] == round(rf["fuzzy_candidates_b"] / 8, 6)
    # empty b: zeros, no division blowup
    empty = spark.createDataFrame([], "doc_id long, text string")
    re_ = corpus_overlap_report(a, empty).collect()[0]
    assert re_["docs_b"] == 0 and re_["exact_shared"] == 0
    assert re_["pct_b_in_a"] == 0.0


def test_advance_ivf_index_append_recall_parity(spark, tables):
    """advance_ivf_index(history, batch) with every cell probed equals
    exact brute force over history ∪ batch (same Arrow cosine kernel,
    same tie-break) — the append≡rebuild invariant in recall terms; and
    a batch copy of a history vector lands in that vector's own cell."""
    from datamunging_spark.operators.similarity import (
        advance_ivf_index,
        brute_force_topk,
        ivf_build,
        ivf_search,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    hist = emb.filter(F.col("vec_id") < 40).localCheckpoint()
    batch = emb.filter(F.col("vec_id").between(40, 59)).localCheckpoint()
    idx = ivf_build(hist, n_clusters=8)
    idx.assigned = idx.assigned.localCheckpoint()
    assert idx.mean_fit_dist is not None and idx.mean_fit_dist >= 0.0
    adv = advance_ivf_index(idx, batch)
    assert adv.assigned.count() == hist.count() + batch.count()
    # frozen centroids: the advanced index is the same object state
    assert adv.mean_fit_dist == idx.mean_fit_dist
    queries = emb.filter(F.col("vec_id") < 3)
    got = ivf_search(queries, adv, k=5, n_probe=8).collect()
    want = brute_force_topk(
        queries, hist.unionByName(batch), k=5, arrow_cosine=True
    ).collect()
    key = lambda rs: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in rs
    )
    assert key(got) == key(want)
    # a batch row that copies a history vector joins its cell
    copy = hist.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    adv2 = advance_ivf_index(idx, copy)
    cells = {
        r["neighbor_id"]: r["_cell"]
        for r in adv2.assigned.filter(
            F.col("neighbor_id").isin(7, 100007)
        ).collect()
    }
    assert cells[7] == cells[100007]


def test_advance_ivf_index_replace_and_delete(spark, tables):
    """replace_ids=True swaps updated vectors' inverted-list rows and
    treats NULL-vector rows as deletes — the advance_index contract."""
    from datamunging_spark.operators.similarity import (
        advance_ivf_index,
        ivf_build,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    hist = emb.filter(F.col("vec_id") < 30).localCheckpoint()
    idx = ivf_build(hist, n_clusters=4)
    idx.assigned = idx.assigned.localCheckpoint()
    moved = emb.filter(F.col("vec_id") == 50).select("embedding").head()[0]
    batch = spark.createDataFrame(
        [(3, moved), (4, None), (77, moved)],
        "vec_id long, embedding array<double>",
    )
    adv = advance_ivf_index(idx, batch, replace_ids=True)
    rows = {r["neighbor_id"]: r["_cv"] for r in adv.assigned.collect()}
    # 4 deleted, 3 replaced with the new vector, 77 appended
    assert 4 not in rows
    assert list(rows[3]) == pytest.approx(list(moved))
    assert 77 in rows
    assert len(rows) == 30 - 1 + 1  # 30 hist - delete + append (3 swaps)
    # append-only misuse is the caller's contract; replace also replays
    # idempotently: folding the same batch twice is the identity
    again = advance_ivf_index(adv, batch, replace_ids=True)
    assert sorted(
        (r["neighbor_id"], r["_cell"]) for r in again.assigned.collect()
    ) == sorted(
        (r["neighbor_id"], r["_cell"]) for r in adv.assigned.collect()
    )


def test_advance_ivf_index_drift_valve(spark, tables):
    """A batch whose embedding distribution left the frozen cells
    raises with a rebuild instruction; a baseline-less index refuses to
    guess; dimension drift fails fast with the fix named."""
    from datamunging_spark.operators.similarity import (
        IvfIndex,
        advance_ivf_index,
        ivf_build,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    hist = emb.filter(F.col("vec_id") < 30).localCheckpoint()
    idx = ivf_build(hist, n_clusters=4)
    idx.assigned = idx.assigned.localCheckpoint()
    far = emb.filter(F.col("vec_id").between(30, 34)).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x * F.lit(1000.0) + F.lit(500.0)
        ).alias("embedding"),
    )
    with pytest.raises(ValueError, match="centroid drift"):
        advance_ivf_index(idx, far, max_drift=2.0)
    # the DEFAULT (no max_drift argument) arms the same 2.0 valve —
    # pins the default against silent loosening (r17, verdict item 1)
    with pytest.raises(ValueError, match="centroid drift"):
        advance_ivf_index(idx, far)
    # near batch passes the same valve
    near = emb.filter(F.col("vec_id").between(30, 34))
    adv = advance_ivf_index(idx, near, max_drift=2.0)
    assert adv.assigned.count() == 35
    # no baseline → the valve refuses rather than silently skipping
    bare = IvfIndex(idx.assigned, idx.centers, idx.n_clusters)
    with pytest.raises(ValueError, match="mean_fit_dist"):
        advance_ivf_index(bare, near, max_drift=2.0)
    assert advance_ivf_index(
        bare, near, max_drift=None
    ).assigned.count() == 35
    wrong_dim = spark.createDataFrame(
        [(99, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dimension drift"):
        advance_ivf_index(idx, wrong_dim, max_drift=None)


def test_advance_ivf_pq_rolls_codes_with_frozen_codebook(spark, tables):
    """The IVF-PQ pair advances in one assignment pass: the rolled
    encoded_cells table equals pq_encode_cells re-run on the advanced
    index with the same frozen codebook (deterministic codes), and
    ivf_pq_topk over the rolled tables finds a planted batch copy."""
    from datamunging_spark.functions import l2_norm
    from datamunging_spark.operators.similarity import (
        advance_ivf_index,
        ivf_build,
        ivf_pq_topk,
        pq_encode_cells,
        pq_fit,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    unit = emb.withColumn("_n", l2_norm(F.col("embedding"))).select(
        "vec_id",
        F.transform(
            "embedding", lambda v: v.cast("double") / F.col("_n")
        ).alias("embedding"),
    )
    hist = unit.filter(F.col("vec_id") < 40).localCheckpoint()
    batch = unit.filter(
        F.col("vec_id").between(40, 49)
    ).unionByName(
        unit.filter(F.col("vec_id") == 2).select(
            (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
        )
    ).localCheckpoint()
    idx = ivf_build(hist, n_clusters=4)
    idx.assigned = idx.assigned.localCheckpoint()
    cb = pq_fit(hist, m=8, k=16, iters=5)
    enc = pq_encode_cells(idx, cb).localCheckpoint()
    adv, enc_adv = advance_ivf_index(
        idx, batch, codebook=cb, encoded_cells=enc
    )
    fresh = pq_encode_cells(adv, cb)
    norm = lambda df: sorted(  # noqa: E731
        (r["neighbor_id"], r["_cell"], tuple(r["pq_codes"]))
        for r in df.collect()
    )
    assert norm(enc_adv) == norm(fresh)
    q = unit.filter(F.col("vec_id") == 2)
    hits = ivf_pq_topk(q, adv, cb, enc_adv, k=3, n_probe=4).collect()
    assert hits[0]["neighbor_id"] == 900002  # the planted batch copy
    # codebook and codes must travel together
    with pytest.raises(ValueError, match="together"):
        advance_ivf_index(idx, batch, codebook=cb)


def test_ivf_centers_table_roundtrip(spark, tables):
    """The relational centers table reassembles the identical index:
    same centers, same baseline, same search results."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        ivf_build,
        ivf_centers_table,
        ivf_index_from_tables,
        ivf_search,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    idx = ivf_build(emb.filter(F.col("vec_id") < 50), n_clusters=8)
    idx.assigned = idx.assigned.localCheckpoint()
    back = ivf_index_from_tables(
        idx.assigned, ivf_centers_table(idx)
    )
    assert np.allclose(back.centers, idx.centers)
    assert back.n_clusters == idx.n_clusters
    assert back.mean_fit_dist == pytest.approx(idx.mean_fit_dist)
    q = emb.filter(F.col("vec_id") < 2)
    a = ivf_search(q, idx, k=5, n_probe=3).collect()
    b = ivf_search(q, back, k=5, n_probe=3).collect()
    assert [
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in a
    ] == [(r["query_id"], r["rank"], r["neighbor_id"]) for r in b]


@pytest.mark.slow
def test_streaming_ivf_ingest_folds_reads_and_replays(spark, tables, tmp_path):
    """Three embedding micro-batches (the third UPDATES a vector from
    the first and DELETES one via NULL) fold into a delta-log vector
    store; load_ivf_index reconstructs the head, full-probe search over
    it equals brute force over the final corpus, and a restart with the
    same checkpoint replays as a no-op."""
    from datamunging_spark.operators.similarity import (
        brute_force_topk,
        ivf_search,
    )
    from datamunging_spark.streaming import (
        load_ivf_index,
        streaming_ivf_ingest,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    rows = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 45).collect()
    }
    schema = "vec_id long, embedding array<double>"
    b1 = [(i, rows[i]) for i in range(0, 20)]
    b2 = [(i, rows[i]) for i in range(20, 40)]
    # update vec 5 to vec 40's embedding; delete vec 6
    b3 = [(5, rows[40]), (6, None), (44, rows[44])]
    src = tmp_path / "vec_src"
    src.mkdir()
    for i, batch in enumerate((b1, b2, b3)):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    table = str(tmp_path / "ivf_store")
    ckpt = str(tmp_path / "ivf_ckpt")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    v = streaming_ivf_ingest(
        stream, table, checkpoint_path=ckpt, n_clusters=4, seed=7
    )
    assert v == 3
    idx = load_ivf_index(spark, table)
    got_ids = {
        r["neighbor_id"]: r["_cv"] for r in idx.assigned.collect()
    }
    assert 6 not in got_ids
    assert list(got_ids[5]) == pytest.approx(rows[40])
    assert set(got_ids) == (set(range(0, 20)) | set(range(20, 40))
                            | {44}) - {6}
    # full-probe search over the store == brute force over final corpus
    final = spark.createDataFrame(
        [(i, vec) for i, vec in got_ids.items()], schema
    )
    queries = emb.filter(F.col("vec_id") < 2)
    a = ivf_search(queries, idx, k=5, n_probe=idx.n_clusters).collect()
    b = brute_force_topk(
        queries, final, k=5, arrow_cosine=True
    ).collect()
    assert sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in a
    ) == sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in b)
    # the store really is a delta log: v2 has no base parquet, v1/v3 do
    import os

    assert os.path.isdir(f"{table}/v2/postings_delta")
    assert not os.path.isdir(f"{table}/v1/postings_delta")
    # restart with the same checkpoint: committed batches skipped
    stream2 = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    v2 = streaming_ivf_ingest(
        stream2, table, checkpoint_path=ckpt, n_clusters=4, seed=7
    )
    assert v2 == 3
    assert sorted(load_ivf_index(spark, table).assigned.collect()) == \
        sorted(idx.assigned.collect())


@pytest.mark.slow
def test_streaming_ivf_collision_guard_and_delete_only_first_batch(
    spark, tables, tmp_path
):
    """Within-batch vec_id collisions fail fast (or resolve last-wins
    via version_col with a deterministic tie-break); a delete-only
    first batch is skipped instead of crashing KMeans."""
    from datamunging_spark.streaming import (
        load_ivf_index,
        streaming_ivf_ingest,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    rows = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 25).collect()
    }
    schema = "vec_id long, embedding array<double>"

    # collision without version_col → ValueError fails the stream
    src = tmp_path / "col_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, rows[1]), (1, rows[2]), (3, rows[3])], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    with pytest.raises(Exception, match="multiple\\s+rows"):
        streaming_ivf_ingest(
            stream, str(tmp_path / "col_store"),
            checkpoint_path=str(tmp_path / "col_ckpt"), n_clusters=2,
        )

    # with version_col: last version wins deterministically
    vschema = "vec_id long, embedding array<double>, v long"
    vsrc = tmp_path / "v_src"
    vsrc.mkdir()
    spark.createDataFrame(
        [(1, rows[1], 1), (1, rows[2], 2)]
        + [(i, rows[i], 1) for i in range(3, 20)],
        vschema,
    ).coalesce(1).write.parquet(str(vsrc / "f0"))
    vstream = spark.readStream.schema(vschema).parquet(str(vsrc) + "/*")
    vtable = str(tmp_path / "v_store")
    streaming_ivf_ingest(
        vstream, vtable, checkpoint_path=str(tmp_path / "v_ckpt"),
        n_clusters=2, version_col="v",
    )
    got = {
        r["neighbor_id"]: list(r["_cv"])
        for r in load_ivf_index(spark, vtable).assigned.collect()
    }
    assert got[1] == pytest.approx(rows[2])  # v=2 won
    assert len(got) == 18

    # delete-only first batch skipped; the next real batch fits
    dsrc = tmp_path / "d_src"
    dsrc.mkdir()
    spark.createDataFrame(
        [(9, None)], schema
    ).coalesce(1).write.parquet(str(dsrc / "f0"))
    spark.createDataFrame(
        [(i, rows[i]) for i in range(0, 10)], schema
    ).coalesce(1).write.parquet(str(dsrc / "f1"))
    dstream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(dsrc) + "/*")
    dtable = str(tmp_path / "d_store")
    v = streaming_ivf_ingest(
        dstream, dtable, checkpoint_path=str(tmp_path / "d_ckpt"),
        n_clusters=2,
    )
    assert v == 1
    assert load_ivf_index(spark, dtable).assigned.count() == 10


@pytest.mark.slow
def test_streaming_ivf_pq_codes_ride_the_store(spark, tables, tmp_path):
    """codebook_m arms the full IVF-PQ layout: codes ride the versioned
    rows as a pq_codes column encoded with the frozen first-fold
    codebook, equal to a fresh re-encode of the head; ivf_pq_topk
    serves straight off load_ivf_index + load_pq_codebook; a store
    built without codes refuses a later codebook_m."""
    from datamunging_spark.functions import l2_norm
    from datamunging_spark.operators.similarity import (
        _pq_encode_udf,
        ivf_pq_topk,
    )
    from datamunging_spark.streaming import (
        load_ivf_index,
        load_pq_codebook,
        streaming_ivf_ingest,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    unit = emb.withColumn("_n", l2_norm(F.col("embedding"))).select(
        "vec_id",
        F.transform(
            "embedding", lambda v: v.cast("double") / F.col("_n")
        ).alias("embedding"),
    )
    rows = {
        r["vec_id"]: list(r["embedding"])
        for r in unit.filter(F.col("vec_id") < 45).collect()
    }
    schema = "vec_id long, embedding array<double>"
    b1 = [(i, rows[i]) for i in range(0, 20)]
    b2 = [(i, rows[i]) for i in range(20, 40)]
    # batch 3 plants an exact copy of vec 2 under a new id
    b3 = [(900002, rows[2]), (44, rows[44])]
    src = tmp_path / "pq_src"
    src.mkdir()
    for i, batch in enumerate((b1, b2, b3)):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    table = str(tmp_path / "pq_store")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    v = streaming_ivf_ingest(
        stream, table, checkpoint_path=str(tmp_path / "pq_ckpt"),
        n_clusters=4, seed=7, codebook_m=8, codebook_k=16,
        codebook_iters=5,
    )
    assert v == 3
    idx = load_ivf_index(spark, table)
    assert "pq_codes" in idx.assigned.columns
    cb = load_pq_codebook(spark, table)
    # stored codes == fresh re-encode of the head with the frozen book
    fresh = idx.assigned.select(
        "neighbor_id",
        _pq_encode_udf(cb)(F.col("_cv")).alias("_f"),
    )
    joined = idx.assigned.select("neighbor_id", "pq_codes").join(
        fresh, "neighbor_id"
    )
    assert joined.filter(F.col("pq_codes") != F.col("_f")).count() == 0
    # serve IVF-PQ straight off the store
    q = unit.filter(F.col("vec_id") == 2)
    enc = idx.assigned.select("neighbor_id", "_cell", "pq_codes")
    hits = ivf_pq_topk(q, idx, cb, enc, k=3, n_probe=4).collect()
    assert hits[0]["neighbor_id"] == 900002
    # codeless store + late codebook_m refuses (no silent retrofit)
    src2 = tmp_path / "pq_src2"
    src2.mkdir()
    for i, batch in enumerate((b1, b2)):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src2 / f"f{i}")
        )
    table2 = str(tmp_path / "pq_store2")
    s1 = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src2) + "/*")
    streaming_ivf_ingest(
        s1, table2, checkpoint_path=str(tmp_path / "pq_ckpt2a"),
        n_clusters=4, seed=7,
    )
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(
        str(src2 / "f9")
    )
    s2 = spark.readStream.schema(schema).parquet(str(src2) + "/*")
    with pytest.raises(Exception, match="retrofitted"):
        streaming_ivf_ingest(
            s2, table2, checkpoint_path=str(tmp_path / "pq_ckpt2b"),
            n_clusters=4, seed=7, codebook_m=8,
        )


# --------------------------------------------------------------------------
# r15: grouped IVF faces, filtered ANN, exact re-rank (refine_k)


@pytest.fixture(scope="module")
def grouped_vecs(spark, tables):
    """Embeddings split into three groups incl. the NULL group (a real
    group, the repo convention), ids kept globally unique here; the
    collision-specific tests build their own colliding corpora."""
    emb = tables["embeddings"].select("vec_id", "embedding")
    return emb.withColumn(
        "grp",
        F.when(F.col("vec_id") % 3 == 0, "en")
        .when(F.col("vec_id") % 3 == 1, "fr")
        .otherwise(F.lit(None).cast("string")),
    ).localCheckpoint()


def _per_slice(df, gval):
    cond = (
        F.col("grp").isNull() if gval is None else F.col("grp") == gval
    )
    return df.filter(cond)


def test_kmeans_fit_np_contracts():
    """The r16 driver-side coarse-quantizer fit (`_kmeans_fit_np`, the
    pq_fit discipline replacing the distributed MLlib fit): seeded
    determinism, planted-cluster recovery, k_eff clamp, exact-zero
    residual when every point is its own center, and the empty-cluster
    respawn never yielding NaN/duplicate centers."""
    import numpy as np

    from datamunging_spark.operators.similarity import _kmeans_fit_np

    rng = np.random.RandomState(3)
    # three well-separated planted clusters
    x = np.concatenate(
        [rng.randn(30, 4) * 0.05 + mu for mu in ([0] * 4, [5] * 4, [-5] * 4)]
    )
    c1, m1 = _kmeans_fit_np(x, 3, seed=7)
    c2, m2 = _kmeans_fit_np(x, 3, seed=7)
    assert np.array_equal(c1, c2) and m1 == m2  # deterministic in seed
    # each planted mean recovered by exactly one centroid
    for mu in (0.0, 5.0, -5.0):
        d = np.abs(c1 - mu).max(axis=1)
        assert (d < 0.2).sum() == 1
    assert m1 < 0.05  # tight planted clusters -> tiny mean residual
    # k > n clamps to n and the residual is (numerically) zero — the
    # matmul identity can leave a tiny positive min-distance under
    # BLAS-dependent rounding (no snap-to-zero epsilon in the fit,
    # unlike _frozen_assign), so approx, not exact equality
    ck, mk = _kmeans_fit_np(x[:5], 16, seed=7)
    assert ck.shape == (5, 4) and mk == pytest.approx(0.0, abs=1e-12)
    # duplicated points force empty clusters: the respawn path must
    # still return finite centers
    xd = np.tile(x[:2], (10, 1))
    cd, md = _kmeans_fit_np(xd, 4, seed=7)
    assert np.isfinite(cd).all() and md >= 0.0


def test_grouped_ivf_build_matches_per_slice_fits(spark, grouped_vecs):
    """Each group's fit in a grouped ivf_build IS the per-slice
    ungrouped fit (same sampling discipline, same seed): centroids and
    drift baselines match the per-group ivf_build verbatim, incl. the
    NULL group; every corpus row gets a valid cell for ITS group."""
    import numpy as np

    from datamunging_spark.operators.similarity import ivf_build

    gidx = ivf_build(grouped_vecs, n_clusters=4, group_col="grp")
    assert gidx.group_col == "grp"
    assert set(map(str, gidx.centers)) == {"en", "fr", "None"}
    for gval in ("en", "fr", None):
        uidx = ivf_build(_per_slice(grouped_vecs, gval), n_clusters=4)
        assert np.allclose(gidx.centers[gval], uidx.centers)
        assert gidx.mean_fit_dist[gval] == pytest.approx(
            uidx.mean_fit_dist
        )
    assert gidx.assigned.count() == grouped_vecs.count()
    bad = gidx.assigned.filter(
        (F.col("_cell") < 0) | (F.col("_cell") >= 4)
    )
    assert bad.count() == 0


@pytest.mark.parametrize("grouped", [False, True], ids=["plain", "grouped"])
def test_frozen_assign_kernel_matches_numpy_argmin(spark, grouped):
    """The one frozen-centroid Arrow kernel against a brute-force numpy
    argmin: cell and squared distance of every row under its group's
    centroids, for one group and for three groups incl. the NULL group.
    A vector equal to a centroid measures exactly 0.0, at unit and at
    1e9 magnitude (the relative snap), and 1e9-magnitude vectors still
    land in their nearest cell."""
    import numpy as np

    from datamunging_spark.operators.similarity import _frozen_assign

    rng = np.random.RandomState(5)
    gvals = ["a", "b", None] if grouped else [None]
    centers = {}
    for i, g in enumerate(gvals):
        c = rng.randn(4, 8) + 3.0 * i
        c[3] = 1e9 * rng.randn(8)  # a far, 1e9-magnitude centroid
        centers[g] = c
    rows = []
    for g in gvals:
        c = centers[g]
        vecs = list(rng.randn(20, 8)) + [c[1], c[3]] + list(
            1e9 * rng.randn(3, 8)
        )
        rows += [(len(rows) + j, g, [float(x) for x in v])
                 for j, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id long, grp string, v array<double>")
    ad = (
        _frozen_assign(centers, "v", "grp")
        if grouped
        else _frozen_assign(centers[None], "v")
    )
    got = {
        r["id"]: (r["ad"][0], r["ad"][1])
        for r in df.select("id", ad.alias("ad")).collect()
    }
    assert len(got) == len(rows)
    for rid, g, v in rows:
        d = ((centers[g] - np.asarray(v)) ** 2).sum(axis=1)
        cell, dist = got[rid]
        assert cell == float(d.argmin())
        if d.min() == 0.0:
            assert dist == 0.0
        else:
            assert dist == pytest.approx(d.min(), rel=1e-9)


#: Spark jobs of one ``ivf_build`` plus ``assigned.count()`` and of one
#: ``advance_ivf_index`` (default drift valve) plus the same count, on
#: ``grouped_vecs`` with ``n_clusters=4``. Build: the row count(s), the
#: sample collect(s) and the assignment count; advance: the dimension
#: (and group) probe, the localCheckpoint the armed valve reads, the
#: valve's aggregate and the count.
IVF_JOB_BUDGET = {
    ("build", "plain"): 5,
    ("build", "grouped"): 8,
    ("advance", "plain"): 7,
    ("advance", "grouped"): 7,
}


def test_ivf_job_budget(spark, grouped_vecs):
    """A job-count regression on the IVF lifecycle fails here: build and
    advance, ungrouped and grouped, must stay within
    ``IVF_JOB_BUDGET``."""
    from test_retrieval import _jobs_of

    from datamunging_spark.operators.similarity import (
        advance_ivf_index,
        ivf_build,
    )

    batch = grouped_vecs.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "grp"
    )
    jobs = {}
    for face, gc in (("plain", None), ("grouped", "grp")):
        jobs[("build", face)] = _jobs_of(
            spark,
            lambda: ivf_build(
                grouped_vecs, n_clusters=4, group_col=gc
            ).assigned.count(),
            f"ivf-budget-build-{face}",
        )
        idx = ivf_build(grouped_vecs, n_clusters=4, group_col=gc)
        idx.assigned = idx.assigned.localCheckpoint()
        jobs[("advance", face)] = _jobs_of(
            spark,
            lambda: advance_ivf_index(idx, batch).assigned.count(),
            f"ivf-budget-advance-{face}",
        )
    over = {
        op: (n, IVF_JOB_BUDGET[op])
        for op, n in jobs.items()
        if n > IVF_JOB_BUDGET[op]
    }
    assert not over, f"jobs over budget (got, budget): {over} of {jobs}"


@pytest.mark.parametrize(
    "op", ["minhash_lsh_pairs", "incremental_minhash_dedup", "simhash_dedup"]
)
def test_signature_cache_released_when_eager_fill_fails(
    spark, monkeypatch, op
):
    """The eager fill of the persisted signature cache runs inside the
    operator's cleanup path: when that count fails after the cache is
    built, no persisted RDD is left behind."""
    from datamunging_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    hist_sig = dedup.minhash_signatures_df(docs).localCheckpoint()
    calls = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs),
        "incremental_minhash_dedup": lambda: dedup.incremental_minhash_dedup(
            docs, hist_sig
        ),
        "simhash_dedup": lambda: dedup.simhash_dedup(docs),
    }
    count = type(docs).count

    def failing_count(self):
        count(self)  # the cache is filled, then the action fails
        raise RuntimeError("boom")

    def persisted():
        # ids, not a count: the context cleaner may release unrelated
        # RDDs meanwhile, but never adds one
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    monkeypatch.setattr(type(docs), "count", failing_count)
    with pytest.raises(RuntimeError, match="boom"):
        calls[op]()
    monkeypatch.undo()
    assert persisted() - before == set()


def _np_ivf(assigned, centers, queries, k, n_probe, allowed=None):
    """numpy IVF reference: per query (id, group or None, vector), probe
    the ``n_probe`` nearest centroids of its group (``centers`` is a
    dict keyed by group, None when ungrouped), score every candidate
    in those cells — (id, group, vector, cell) rows of ``assigned`` —
    by exact cosine, drop the query's own id and ids outside
    ``allowed`` ((group, id) keys), rank by (-cosine, id). Returns
    sorted (query_id, rank, neighbor_id, cosine)."""
    import numpy as np

    out = []
    for qid, g, v in queries:
        x = np.asarray(v, dtype=np.float64)
        c = np.asarray(centers[g], dtype=np.float64)
        cells = set(np.argsort(((c - x) ** 2).sum(axis=1))[:n_probe])
        scored = []
        for nid, ng, cv, cell in assigned:
            if ng != g or cell not in cells or nid == qid:
                continue
            if allowed is not None and (ng, nid) not in allowed:
                continue
            y = np.asarray(cv, dtype=np.float64)
            den = np.linalg.norm(x) * np.linalg.norm(y)
            scored.append((float(x @ y / den) if den > 0 else 0.0, nid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        out += [
            (qid, r + 1, nid, cos)
            for r, (cos, nid) in enumerate(scored[:k])
        ]
    return sorted(out)


@pytest.mark.parametrize("face", ["plain", "filter", "grouped"])
def test_ivf_search_matches_numpy_reference(spark, grouped_vecs, face):
    """ivf_search against the numpy IVF reference at 1e-6: a multi-query
    batch whose ids are corpus ids (query_id == neighbor_id is
    excluded), a planted duplicate vector (the cosine tie breaks on
    ascending neighbor id), the filtered and grouped faces, and an
    empty batch (no rows)."""
    from datamunging_spark.operators.similarity import ivf_build, ivf_search

    first = grouped_vecs.filter(F.col("vec_id") == 3).first()
    corpus = grouped_vecs.unionByName(
        spark.createDataFrame(
            [(900001, first.embedding, first.grp),
             (900000, first.embedding, first.grp)],
            grouped_vecs.schema,
        )
    ).localCheckpoint()
    gc = "grp" if face == "grouped" else None
    idx = ivf_build(corpus, n_clusters=4, group_col=gc)
    idx.assigned = idx.assigned.localCheckpoint()
    queries = corpus.filter(F.col("vec_id").isin(0, 1, 2, 3, 4, 5))
    kw, allowed = {}, None
    if face == "filter":
        keep = [
            r.vec_id for r in corpus.collect()
            if r.vec_id % 4 != 1 or r.vec_id >= 900000
        ]
        kw["filter_ids"] = spark.createDataFrame(
            [(i,) for i in keep], "vec_id long"
        )
        allowed = {(None, i) for i in keep}
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in ivf_search(queries, idx, k=5, n_probe=2, **kw).collect()
    )
    rows = idx.assigned.collect()
    centers = idx.centers if gc else {None: idx.centers}
    want = _np_ivf(
        [(r["neighbor_id"], r[gc] if gc else None, r["_cv"], r["_cell"])
         for r in rows],
        centers,
        [(r.vec_id, r.grp if gc else None, r.embedding)
         for r in queries.collect()],
        5, 2, allowed,
    )
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert [g[3] for g in got] == pytest.approx(
        [w[3] for w in want], abs=1e-6
    )
    assert all(g[0] != g[2] for g in got)
    # query 3's duplicates tie at cosine 1.0 and rank by id
    assert [g[2] for g in got if g[0] == 3][:2] == [900000, 900001]
    assert ivf_search(
        queries.limit(0), idx, k=5, n_probe=2, **kw
    ).collect() == []


def test_grouped_ivf_search_equals_per_slice_runs(spark, grouped_vecs):
    """The grouped search face ≡ running ungrouped ivf_search per group
    slice (same centers, same assigned rows) — exact row equality,
    NULL group included; a query batch missing the group column, or
    carrying a group the index never built, raises."""
    from datamunging_spark.operators.similarity import (
        IvfIndex,
        ivf_build,
        ivf_search,
    )

    gidx = ivf_build(grouped_vecs, n_clusters=4, group_col="grp")
    gidx.assigned = gidx.assigned.localCheckpoint()
    queries = grouped_vecs.filter(F.col("vec_id") < 9)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cosine"], 9))
        for r in ivf_search(queries, gidx, k=5, n_probe=2).collect()
    )
    want = []
    for gval in ("en", "fr", None):
        slice_idx = IvfIndex(
            _per_slice(gidx.assigned, gval).select(
                "neighbor_id", "_cv", "_cell"
            ),
            gidx.centers[gval],
            gidx.n_clusters,
            gidx.mean_fit_dist[gval],
        )
        want.extend(
            (r["query_id"], r["rank"], r["neighbor_id"], round(r["cosine"], 9))
            for r in ivf_search(
                _per_slice(queries, gval), slice_idx, k=5, n_probe=2
            ).collect()
        )
    assert got == sorted(want)
    with pytest.raises(ValueError, match="no such column"):
        ivf_search(queries.drop("grp"), gidx, k=5)
    with pytest.raises(ValueError, match="no\ncentroids|no "):
        ivf_search(
            queries.withColumn("grp", F.lit("de")), gidx, k=5
        )


def test_grouped_advance_colliding_ids_and_valve(spark):
    """Grouped advance keys replace/delete on (group, id) — ids collide
    across groups by design here and one tenant's update/delete cannot
    touch another's rows; the drift valve runs PER GROUP and raises
    naming the drifted group; an unseen batch group raises."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        advance_ivf_index,
        ivf_build,
    )

    rng = np.random.RandomState(11)
    rows = [
        (i, g, [float(x) for x in rng.randn(8)])
        for g in ("a", "b")
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id int, grp string, embedding array<double>"
    ).localCheckpoint()
    idx = ivf_build(corpus, n_clusters=4, group_col="grp")
    idx.assigned = idx.assigned.localCheckpoint()
    # replace id 5 in group a only; delete id 7 in group a only
    batch = spark.createDataFrame(
        [
            (5, "a", [float(x) for x in rng.randn(8)]),
            (7, "a", None),
        ],
        "vec_id int, grp string, embedding array<double>",
    )
    adv = advance_ivf_index(idx, batch, replace_ids=True)
    by_key = {
        (r["grp"], r["neighbor_id"]): r["_cv"]
        for r in adv.assigned.filter(
            F.col("neighbor_id").isin(5, 7)
        ).collect()
    }
    assert ("a", 7) not in by_key  # deleted in a
    assert ("b", 7) in by_key  # untouched in b
    old_b5 = {
        r["neighbor_id"]: r["_cv"]
        for r in idx.assigned.filter(
            (F.col("grp") == "b") & (F.col("neighbor_id") == 5)
        ).collect()
    }
    assert by_key[("b", 5)] == old_b5[5]  # b's id 5 not replaced
    assert by_key[("a", 5)] != old_b5[5]
    # per-group drift valve: drifted group named, calm group passes
    far = spark.createDataFrame(
        [(100, "a", [float(50 + x) for x in rng.randn(8)])],
        "vec_id int, grp string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="group 'a'"):
        advance_ivf_index(idx, far, max_drift=2.0)
    near = spark.createDataFrame(
        [(101, "b", [float(x) for x in rng.randn(8)])],
        "vec_id int, grp string, embedding array<double>",
    )
    assert (
        advance_ivf_index(idx, near, max_drift=2.0).assigned.count()
        == 81
    )
    # unseen group refuses — the advance face cannot mint centroids
    with pytest.raises(ValueError, match="ivf_build"):
        advance_ivf_index(
            idx,
            spark.createDataFrame(
                [(1, "c", [0.0] * 8)],
                "vec_id int, grp string, embedding array<double>",
            ),
        )


def test_grouped_advance_append_equals_rebuild_recall(spark, grouped_vecs):
    """Grouped append≡rebuild in recall terms: advancing a grouped
    index then searching with every cell probed equals per-group brute
    force over history ∪ batch (the ungrouped parity test, grouped)."""
    from datamunging_spark.operators.similarity import (
        advance_ivf_index,
        brute_force_topk,
        ivf_build,
        ivf_search,
    )

    hist = grouped_vecs.filter(F.col("vec_id") < 60).localCheckpoint()
    batch = grouped_vecs.filter(
        F.col("vec_id").between(60, 89)
    ).localCheckpoint()
    idx = ivf_build(hist, n_clusters=4, group_col="grp")
    idx.assigned = idx.assigned.localCheckpoint()
    adv = advance_ivf_index(idx, batch)
    queries = grouped_vecs.filter(F.col("vec_id") < 6)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_search(queries, adv, k=5, n_probe=4).collect()
    )
    want = []
    full = hist.unionByName(batch)
    for gval in ("en", "fr", None):
        want.extend(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in brute_force_topk(
                _per_slice(queries, gval),
                _per_slice(full, gval),
                k=5,
                arrow_cosine=True,
            ).collect()
        )
    assert got == sorted(want)


def test_grouped_centers_table_round_trip(spark, grouped_vecs):
    """ivf_centers_table ↔ ivf_index_from_tables round-trips the
    grouped state exactly — per-group centers, per-group baselines,
    group column name AND type (string incl. NULL group; int too)."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        ivf_build,
        ivf_centers_table,
        ivf_index_from_tables,
        ivf_search,
    )

    gidx = ivf_build(grouped_vecs, n_clusters=4, group_col="grp")
    gidx.assigned = gidx.assigned.localCheckpoint()
    ct = ivf_centers_table(gidx)
    assert ct.columns == ["grp", "cell", "center", "mean_fit_dist"]
    back = ivf_index_from_tables(gidx.assigned, ct)
    assert back.group_col == "grp"
    assert back.group_type == gidx.group_type
    assert set(map(str, back.centers)) == set(map(str, gidx.centers))
    for g in gidx.centers:
        assert np.allclose(gidx.centers[g], back.centers[g])
        assert back.mean_fit_dist[g] == pytest.approx(
            gidx.mean_fit_dist[g]
        )
    q = grouped_vecs.filter(F.col("vec_id") < 6)
    a = ivf_search(q, gidx, k=3, n_probe=4).collect()
    b = ivf_search(q, back, k=3, n_probe=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # int-typed group column survives the round trip too
    ivecs = grouped_vecs.withColumn(
        "tenant", (F.col("vec_id") % 2).cast("int")
    ).drop("grp")
    iidx = ivf_build(ivecs, n_clusters=4, group_col="tenant")
    it = ivf_centers_table(iidx)
    iback = ivf_index_from_tables(None, it)
    assert iback.group_col == "tenant"
    assert set(iback.centers) == {0, 1}
    assert np.allclose(iback.centers[0], iidx.centers[0])


def test_filtered_ann_prefilter_fills_k_postfilter_does_not(
    spark, tables
):
    """The filtered-ANN contract, planted: with a selective predicate,
    post-filtering an unfiltered top-k under-fills k (no recall
    contract), while filter_ids pre-filters the probed candidates and
    fills k with exactly the brute-force-over-filtered-subset result
    at full probe."""
    from datamunging_spark.operators.similarity import (
        brute_force_topk,
        ivf_build,
        ivf_search,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 200).localCheckpoint()
    queries = corpus.filter(F.col("vec_id") < 3)
    idx = ivf_build(corpus, n_clusters=4)
    idx.assigned = idx.assigned.localCheckpoint()
    keep = corpus.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    # post-filter: global top-10 then predicate — visibly under-fills
    unfiltered = ivf_search(queries, idx, k=10, n_probe=4)
    post = unfiltered.filter(F.col("neighbor_id") % 10 == 0)
    post_counts = {
        r["query_id"]: r["n"]
        for r in post.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(post_counts.get(q, 0) < 10 for q in (0, 1, 2))
    # pre-filter: k fills from the filtered sub-corpus; at full probe
    # it IS brute force over that sub-corpus
    pre = ivf_search(queries, idx, k=10, n_probe=4, filter_ids=keep)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pre.collect()
    )
    assert len(got) == 30  # 3 queries × full k
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(
            queries,
            corpus.join(keep, "vec_id", "semi"),
            k=10,
            arrow_cosine=True,
        ).collect()
    )
    assert got == want
    # malformed filter tables refuse
    with pytest.raises(ValueError, match="one-column"):
        ivf_search(
            queries, idx, k=10,
            filter_ids=keep.withColumn("extra", F.lit(1)),
        )


def test_filtered_ann_grouped_filter_on_group_and_id(spark):
    """On a grouped index whose ids collide across groups, a (group,
    id) filter table constrains per group — an id-only filter would
    leak the other group's rows into the allowed set."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        ivf_build,
        ivf_search,
    )

    rng = np.random.RandomState(3)
    rows = [
        (i, g, [float(x) for x in rng.randn(8)])
        for g in ("a", "b")
        for i in range(30)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id int, grp string, embedding array<double>"
    ).localCheckpoint()
    idx = ivf_build(corpus, n_clusters=2, group_col="grp")
    idx.assigned = idx.assigned.localCheckpoint()
    queries = corpus.filter(
        (F.col("vec_id") == 0) & (F.col("grp") == "a")
    )
    # allow ONLY group a's even ids; group b's even ids stay excluded
    flt = spark.createDataFrame(
        [("a", i) for i in range(0, 30, 2)], "grp string, vec_id int"
    )
    out = ivf_search(
        queries, idx, k=5, n_probe=2, filter_ids=flt
    ).collect()
    assert len(out) == 5
    assert all(r["grp"] == "a" and r["neighbor_id"] % 2 == 0 for r in out)


def test_pq_refine_k_recovers_exact_ranking(spark, tables):
    """refine_k ≥ corpus size makes pq_topk exactly brute force by dot
    product (the FAISS RefineFlat shape, taken to its limit); smaller
    refine_k never ranks worse than plain ADC against the exact
    ranking; validation refuses a lone refine_k/vectors and
    refine_k < k."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        pq_encode,
        pq_fit,
        pq_topk,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 150).localCheckpoint()
    queries = corpus.filter(F.col("vec_id") < 4)
    cb = pq_fit(corpus, m=8, k=32, seed=5)
    enc = pq_encode(corpus, cb).localCheckpoint()
    # exact reference: numpy dot-product top-5, self excluded,
    # ties on ascending id (the module convention)
    mat = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in corpus.collect()
    }
    exact = {}
    for qr in queries.collect():
        qv = mat[qr["vec_id"]]
        ranked = sorted(
            ((float(qv @ v), -i) for i, v in mat.items()
             if i != qr["vec_id"]),
            reverse=True,
        )[:5]
        exact[qr["vec_id"]] = [-i for _, i in ranked]
    refined = {}
    for r in pq_topk(
        queries, enc, cb, k=5, refine_k=150, vectors=corpus
    ).collect():
        refined.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    got = {
        q: [n for _, n in sorted(v)] for q, v in refined.items()
    }
    assert got == exact
    # moderate refine_k: recall vs exact never below plain ADC's
    def recall(hits):
        by_q = {}
        for r in hits:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(by_q.get(q, set()) & set(exact[q])) for q in exact
        )

    plain = recall(pq_topk(queries, enc, cb, k=5).collect())
    part = recall(
        pq_topk(
            queries, enc, cb, k=5, refine_k=25, vectors=corpus
        ).collect()
    )
    assert part >= plain
    with pytest.raises(ValueError, match="together"):
        pq_topk(queries, enc, cb, k=5, refine_k=25)
    with pytest.raises(ValueError, match=">= k"):
        pq_topk(
            queries, enc, cb, k=5, refine_k=3, vectors=corpus
        )


def test_ivf_pq_refine_k_full_probe_is_exact(spark, tables):
    """ivf_pq_topk with every cell probed and refine_k ≥ corpus equals
    the exact dot-product ranking — the quantization error is fully
    re-ranked away; grouped IVF-PQ search refuses loudly."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        ivf_build,
        ivf_pq_topk,
        pq_encode_cells,
        pq_fit,
    )

    emb = tables["embeddings"].select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 120).localCheckpoint()
    queries = corpus.filter(F.col("vec_id") < 3)
    idx = ivf_build(corpus, n_clusters=4)
    idx.assigned = idx.assigned.localCheckpoint()
    cb = pq_fit(corpus, m=8, k=32, seed=5)
    cells = pq_encode_cells(idx, cb).localCheckpoint()
    mat = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in corpus.collect()
    }
    exact = {}
    for qr in queries.collect():
        qv = mat[qr["vec_id"]]
        ranked = sorted(
            ((float(qv @ v), -i) for i, v in mat.items()
             if i != qr["vec_id"]),
            reverse=True,
        )[:5]
        exact[qr["vec_id"]] = [-i for _, i in ranked]
    got = {}
    for r in sorted(
        ivf_pq_topk(
            queries, idx, cb, cells, k=5, n_probe=4, refine_k=120
        ).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    ):
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert got == exact
    with pytest.raises(ValueError, match=">= k"):
        ivf_pq_topk(queries, idx, cb, cells, k=5, refine_k=2)


@pytest.mark.slow
def test_streaming_ivf_ingest_grouped_store(spark, tmp_path):
    """The grouped streaming vector store: per-group frozen centroids,
    (group, id) replace/delete across folds with colliding ids, a NEW
    group fitted on first appearance (centers table grows a version;
    old groups' centroids stay frozen verbatim), NULL group included,
    and groupedness is schema-authoritative (flag flips refuse)."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        brute_force_topk,
        ivf_search,
    )
    from datamunging_spark.sources.versioned import (
        latest_table_version,
        read_table_version,
    )
    from datamunging_spark.streaming import (
        load_ivf_index,
        streaming_ivf_ingest,
    )

    rng = np.random.RandomState(23)
    schema = "vec_id int, grp string, embedding array<double>"

    def mk(rows):
        return [
            (i, g, [float(x) for x in rng.randn(8)]) for g, i in rows
        ]

    # fold 1: groups a + NULL, ids collide across groups by design
    b1 = mk([("a", i) for i in range(20)] + [(None, i) for i in range(20)])
    # fold 2: NEW group b appears; replace a's id 3; delete NULL's id 4
    b2 = mk([("b", i) for i in range(20)] + [("a", 3)])
    b2.append((4, None, None))
    src = tmp_path / "givf_src"
    src.mkdir()
    table = str(tmp_path / "givf_store")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(src / "f0")
    )
    s1 = spark.readStream.schema(schema).parquet(str(src) + "/*")
    # max_drift=4: fold 2's group-a batch is ONE in-distribution random
    # vector whose nearest-centroid distance concentrates at ~E||x||²≈8
    # while a good 4-cluster fit on 20 such vectors leaves a mean
    # residual of ~3.7–4.5 — the default 2.0 valve sits exactly on that
    # noise boundary (it passed by 0.07% under the old distributed fit).
    # This test pins replace/delete/new-group semantics; the valve's own
    # trigger behavior is pinned with PLANTED drift elsewhere.
    assert streaming_ivf_ingest(
        s1, table, checkpoint_path=str(tmp_path / "givf_c1"),
        n_clusters=4, seed=7, group_col="grp", max_drift=4.0,
    ) == 1
    cpath = f"{table}_centers"
    assert latest_table_version(spark, cpath) == 1
    c1 = read_table_version(spark, cpath, 1)
    assert c1.columns == ["grp", "cell", "center", "mean_fit_dist"]
    groups_v1 = {r["grp"] for r in c1.select("grp").distinct().collect()}
    assert groups_v1 == {"a", None}
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    s2 = spark.readStream.schema(schema).parquet(str(src) + "/*")
    assert streaming_ivf_ingest(
        s2, table, checkpoint_path=str(tmp_path / "givf_c1"),
        n_clusters=4, seed=7, group_col="grp", max_drift=4.0,
    ) == 2
    # new group b minted a centers version; a's centroids unchanged
    assert latest_table_version(spark, cpath) == 2
    c2 = read_table_version(spark, cpath, 2)
    assert {
        r["grp"] for r in c2.select("grp").distinct().collect()
    } == {"a", "b", None}
    a1 = {
        r["cell"]: r["center"]
        for r in c1.filter(F.col("grp") == "a").collect()
    }
    a2 = {
        r["cell"]: r["center"]
        for r in c2.filter(F.col("grp") == "a").collect()
    }
    assert a1 == a2
    idx = load_ivf_index(spark, table)
    assert idx.group_col == "grp"
    rows = idx.assigned.collect()
    # 40 (fold 1) + 20 (b) + replace (net 0) - delete (1) = 59
    assert len(rows) == 59
    assert not [
        r for r in rows if r["grp"] is None and r["neighbor_id"] == 4
    ]  # NULL group's id 4 deleted...
    assert [
        r for r in rows if r["grp"] == "a" and r["neighbor_id"] == 4
    ]  # ...but a's id 4 survives the collision
    # grouped search over the store == per-group brute force (all
    # cells probed)
    q = spark.createDataFrame(
        [(0, "a", [float(x) for x in rng.randn(8)])], schema
    ).withColumnRenamed("embedding", "embedding")
    got = sorted(
        (r["rank"], r["neighbor_id"])
        for r in ivf_search(q, idx, k=5, n_probe=4).collect()
    )
    corpus_a = spark.createDataFrame(
        [
            (r["neighbor_id"], r["_cv"])
            for r in rows
            if r["grp"] == "a"
        ],
        "vec_id int, embedding array<double>",
    )
    want = sorted(
        (r["rank"], r["neighbor_id"])
        for r in brute_force_topk(
            q.select("vec_id", "embedding"), corpus_a, k=5,
            arrow_cosine=True,
        ).collect()
    )
    assert got == want
    # flag flips refuse in both directions
    spark.createDataFrame(
        mk([("a", 100)]), schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    s3 = spark.readStream.schema(schema).parquet(str(src) + "/*")
    with pytest.raises(Exception, match="decided by"):
        streaming_ivf_ingest(
            s3, table, checkpoint_path=str(tmp_path / "givf_c1"),
            n_clusters=4, seed=7,
        )
    # ungrouped store refuses a grouped fold
    usrc = tmp_path / "givf_usrc"
    usrc.mkdir()
    utable = str(tmp_path / "givf_ustore")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(usrc / "f0")
    )
    u1 = spark.readStream.schema(schema).parquet(str(usrc) + "/*")
    # ungrouped fold over the same rows (ids collide → needs distinct
    # ids; use grp-a rows only)
    ua = spark.createDataFrame(
        mk([("x", i) for i in range(10)]), schema
    )
    import shutil

    shutil.rmtree(usrc)
    usrc.mkdir()
    ua.coalesce(1).write.parquet(str(usrc / "f0"))
    u1 = spark.readStream.schema(schema).parquet(str(usrc) + "/*")
    assert streaming_ivf_ingest(
        u1, utable, checkpoint_path=str(tmp_path / "givf_c4"),
        n_clusters=4, seed=7,
    ) == 1
    ua2 = spark.createDataFrame(mk([("x", 50)]), schema)
    ua2.coalesce(1).write.parquet(str(usrc / "f1"))
    u2 = spark.readStream.schema(schema).parquet(str(usrc) + "/*")
    with pytest.raises(Exception, match="decided by"):
        streaming_ivf_ingest(
            u2, utable, checkpoint_path=str(tmp_path / "givf_c4"),
            n_clusters=4, seed=7, group_col="grp",
        )


def test_grouped_ivf_pq_topk_equals_per_slice_and_filters(spark):
    """Grouped IVF-PQ search ≡ per-slice ungrouped ivf_pq_topk runs
    (one GLOBAL codebook, per-group cells) with colliding ids and the
    NULL group; refine_k at full probe ≡ per-group exact dot ranking;
    filter_ids constrains per (group, id)."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        IvfIndex,
        ivf_build,
        ivf_pq_topk,
        pq_encode_cells,
        pq_fit,
    )

    rng = np.random.RandomState(17)
    rows = [
        (i, g, [float(x) for x in rng.randn(16)])
        for g in ("a", "b", None)
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id int, grp string, embedding array<double>"
    ).localCheckpoint()
    gidx = ivf_build(corpus, n_clusters=4, group_col="grp")
    gidx.assigned = gidx.assigned.localCheckpoint()
    cb = pq_fit(corpus, m=4, k=16, seed=9)
    cells = pq_encode_cells(gidx, cb).localCheckpoint()
    # query ids are the OUTPUT key and must be unique across the
    # batch even on grouped corpora (duplicate ids fail fast below) —
    # pick disjoint per-group id ranges, all still self-excluded
    queries = corpus.filter(
        ((F.col("grp") == "a") & (F.col("vec_id") < 2))
        | ((F.col("grp") == "b") & F.col("vec_id").between(2, 3))
        | (F.col("grp").isNull() & F.col("vec_id").between(4, 5))
    ).localCheckpoint()
    skey = lambda t: (str(t[0]), t[1], t[2], t[3])  # noqa: E731
    got = sorted(
        (
            (r["grp"], r["query_id"], r["rank"], r["neighbor_id"])
            for r in ivf_pq_topk(
                queries, gidx, cb, cells, k=5, n_probe=2
            ).collect()
        ),
        key=skey,
    )
    assert len(got) == 30  # 6 query rows x k
    want = []
    for gval in ("a", "b", None):
        cond = (
            F.col("grp").isNull()
            if gval is None
            else F.col("grp") == gval
        )
        sidx = IvfIndex(
            gidx.assigned.filter(cond).select(
                "neighbor_id", "_cv", "_cell"
            ),
            gidx.centers[gval],
            gidx.n_clusters,
            gidx.mean_fit_dist[gval],
        )
        scells = cells.filter(cond).select(
            "neighbor_id", "_cell", "pq_codes"
        )
        want.extend(
            (gval, r["query_id"], r["rank"], r["neighbor_id"])
            for r in ivf_pq_topk(
                queries.filter(cond), sidx, cb, scells, k=5, n_probe=2
            ).collect()
        )
    assert got == sorted(want, key=skey)
    # refine_k at full probe == per-group exact dot ranking
    mat = {
        (r["grp"], r["vec_id"]): np.asarray(
            r["embedding"], dtype=np.float64
        )
        for r in corpus.collect()
    }
    exact = {}
    for qr in queries.collect():
        qv = mat[(qr["grp"], qr["vec_id"])]
        ranked = sorted(
            (
                (float(qv @ v), -i)
                for (g, i), v in mat.items()
                if g == qr["grp"] and i != qr["vec_id"]
            ),
            reverse=True,
        )[:5]
        exact[(qr["grp"], qr["vec_id"])] = [-i for _, i in ranked]
    ref = {}
    for r in sorted(
        ivf_pq_topk(
            queries, gidx, cb, cells, k=5, n_probe=4, refine_k=200
        ).collect(),
        key=lambda r: (str(r["grp"]), r["query_id"], r["rank"]),
    ):
        ref.setdefault((r["grp"], r["query_id"]), []).append(
            r["neighbor_id"]
        )
    assert ref == exact
    # (group, id) filter: only group a's even ids allowed
    flt = spark.createDataFrame(
        [("a", i) for i in range(0, 40, 2)], "grp string, vec_id int"
    )
    fout = ivf_pq_topk(
        queries.filter(F.col("grp") == "a"),
        gidx, cb, cells, k=5, n_probe=4, filter_ids=flt,
    ).collect()
    assert len(fout) == 10
    assert all(
        r["grp"] == "a" and r["neighbor_id"] % 2 == 0 for r in fout
    )
    # grouped index demands grouped encoded_cells and grouped queries
    with pytest.raises(ValueError, match="pq_encode_cells"):
        ivf_pq_topk(
            queries, gidx, cb,
            cells.drop("grp"), k=5,
        )
    with pytest.raises(ValueError, match="no such column"):
        ivf_pq_topk(queries.drop("grp"), gidx, cb, cells, k=5)
    # colliding QUERY ids fail fast (one ADC row per query id)
    dup_q = corpus.filter(F.col("vec_id") == 9)
    with pytest.raises(ValueError, match="duplicate query ids"):
        ivf_pq_topk(dup_q, gidx, cb, cells, k=5)


def test_grouped_pq_topk_equals_per_slice_and_filters(spark):
    """Grouped pq_topk ≡ per-slice ungrouped runs (one GLOBAL
    codebook; the kernel partitions each batch by the NULL-safe group
    key) with colliding ids and the NULL group; refine keys
    (group, id); filter_ids cuts the codes table BEFORE the scan so k
    fills from the filtered sub-corpus where a post-filter
    under-fills."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        pq_encode,
        pq_fit,
        pq_topk,
    )

    rng = np.random.RandomState(23)
    rows = [
        (i, g, [float(x) for x in rng.randn(16)])
        for g in ("a", "b", None)
        for i in range(30)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id int, grp string, embedding array<double>"
    ).localCheckpoint()
    cb = pq_fit(corpus, m=4, k=16, seed=11)
    enc = pq_encode(corpus, cb, group_col="grp").localCheckpoint()
    queries = corpus.filter(
        ((F.col("grp") == "a") & (F.col("vec_id") < 2))
        | ((F.col("grp") == "b") & F.col("vec_id").between(2, 3))
        | (F.col("grp").isNull() & F.col("vec_id").between(4, 5))
    ).localCheckpoint()
    skey = lambda t: (str(t[0]), t[1], t[2], t[3])  # noqa: E731
    got = sorted(
        (
            (r["grp"], r["query_id"], r["rank"], r["neighbor_id"])
            for r in pq_topk(
                queries, enc, cb, k=5, group_col="grp"
            ).collect()
        ),
        key=skey,
    )
    assert len(got) == 30  # 6 query rows x k
    want = []
    for gval in ("a", "b", None):
        cond = (
            F.col("grp").isNull()
            if gval is None
            else F.col("grp") == gval
        )
        want.extend(
            (gval, r["query_id"], r["rank"], r["neighbor_id"])
            for r in pq_topk(
                queries.filter(cond),
                enc.filter(cond).drop("grp"),
                cb,
                k=5,
            ).collect()
        )
    assert got == sorted(want, key=skey)
    # grouped refine at refine_k ≥ group size == per-group exact dot
    # ranking (vectors joined on (group, id) — colliding ids fetch
    # THEIR group's vector)
    mat = {
        (r["grp"], r["vec_id"]): np.asarray(
            r["embedding"], dtype=np.float64
        )
        for r in corpus.collect()
    }
    exact = {}
    for qr in queries.collect():
        qv = mat[(qr["grp"], qr["vec_id"])]
        ranked = sorted(
            (
                (float(qv @ v), -i)
                for (g, i), v in mat.items()
                if g == qr["grp"] and i != qr["vec_id"]
            ),
            reverse=True,
        )[:5]
        exact[(qr["grp"], qr["vec_id"])] = [-i for _, i in ranked]
    ref = {}
    for r in sorted(
        pq_topk(
            queries, enc, cb, k=5, refine_k=200,
            vectors=corpus, group_col="grp",
        ).collect(),
        key=lambda r: (str(r["grp"]), r["query_id"], r["rank"]),
    ):
        ref.setdefault((r["grp"], r["query_id"]), []).append(
            r["neighbor_id"]
        )
    assert ref == exact
    # (group, id) filter: only group a's even ids allowed
    flt = spark.createDataFrame(
        [("a", i) for i in range(0, 30, 2)], "grp string, vec_id int"
    )
    fout = pq_topk(
        queries.filter(F.col("grp") == "a"),
        enc, cb, k=5, group_col="grp", filter_ids=flt,
    ).collect()
    assert len(fout) == 10
    assert all(
        r["grp"] == "a" and r["neighbor_id"] % 2 == 0 for r in fout
    )
    # flat filter_ids == pre-filtering the codes table by hand, and a
    # naive post-filter of the unfiltered top-k under-fills k
    qa = queries.filter(F.col("grp") == "a")
    enc_a = enc.filter(F.col("grp") == "a").drop("grp")
    flat_flt = spark.createDataFrame(
        [(i,) for i in range(0, 30, 2)], "vec_id int"
    )
    trip = lambda rs: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in rs
    )
    fhits = pq_topk(qa, enc_a, cb, k=5, filter_ids=flat_flt).collect()
    assert trip(fhits) == trip(
        pq_topk(
            qa,
            enc_a.filter(F.col("neighbor_id") % 2 == 0),
            cb,
            k=5,
        ).collect()
    )
    post = [
        r
        for r in pq_topk(qa, enc_a, cb, k=5).collect()
        if r["neighbor_id"] % 2 == 0
    ]
    assert len(post) < len(fhits) == 10
    # every side of the grouped face must carry the group column
    with pytest.raises(ValueError, match="queries table has no such"):
        pq_topk(queries.drop("grp"), enc, cb, k=5, group_col="grp")
    with pytest.raises(ValueError, match="encoded table has no such"):
        pq_topk(
            queries, enc.drop("grp"), cb, k=5, group_col="grp"
        )
    with pytest.raises(ValueError, match="vectors table has no such"):
        pq_topk(
            queries, enc, cb, k=5, group_col="grp",
            refine_k=10, vectors=corpus.drop("grp"),
        )
    # colliding QUERY ids fail fast (query_id is the output key)
    with pytest.raises(ValueError, match="duplicate query ids"):
        pq_topk(
            corpus.filter(F.col("vec_id") == 9),
            enc, cb, k=5, group_col="grp",
        )


def test_grouped_brute_force_and_lsh_equal_per_slice(spark):
    """Grouped brute_force_topk / lsh_search ≡ per-slice ungrouped runs
    with colliding ids and the NULL group (exact equality — the
    hyperplanes are data-independent, so grouping is purely a join-key
    matter); lsh filter_ids pre-filters the bucket collisions."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        LshIndex,
        brute_force_topk,
        lsh_build,
        lsh_search,
    )

    rng = np.random.RandomState(29)
    rows = [
        (i, g, [float(x) for x in rng.randn(16)])
        for g in ("a", "b", None)
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id int, grp string, embedding array<double>"
    ).localCheckpoint()
    queries = corpus.filter(
        ((F.col("grp") == "a") & (F.col("vec_id") < 2))
        | ((F.col("grp") == "b") & F.col("vec_id").between(2, 3))
        | (F.col("grp").isNull() & F.col("vec_id").between(4, 5))
    ).localCheckpoint()
    skey = lambda t: (str(t[0]), t[1], t[2], t[3])  # noqa: E731

    def per_slice(fn):
        out = []
        for gval in ("a", "b", None):
            cond = (
                F.col("grp").isNull()
                if gval is None
                else F.col("grp") == gval
            )
            out.extend(
                (gval, r["query_id"], r["rank"], r["neighbor_id"])
                for r in fn(
                    queries.filter(cond), corpus.filter(cond)
                ).collect()
            )
        return sorted(out, key=skey)

    got_bf = sorted(
        (
            (r["grp"], r["query_id"], r["rank"], r["neighbor_id"])
            for r in brute_force_topk(
                queries, corpus, k=5, group_col="grp"
            ).collect()
        ),
        key=skey,
    )
    assert got_bf == per_slice(
        lambda q, c: brute_force_topk(q, c, k=5)
    )
    assert len(got_bf) == 30

    gidx = lsh_build(
        corpus, dim=16, n_planes=4, n_tables=4, group_col="grp"
    )
    gidx.bucketed = gidx.bucketed.localCheckpoint()
    got_lsh = sorted(
        (
            (r["grp"], r["query_id"], r["rank"], r["neighbor_id"])
            for r in lsh_search(queries, gidx, k=5).collect()
        ),
        key=skey,
    )

    def slice_lsh(q, c):
        idx = lsh_build(c, dim=16, n_planes=4, n_tables=4)
        return lsh_search(q, idx, k=5)

    assert got_lsh == per_slice(slice_lsh)
    # grouped queries missing the group column refuse
    with pytest.raises(ValueError, match="no such column"):
        lsh_search(queries.drop("grp"), gidx, k=5)
    # filter_ids on (group, id): only group a's even ids allowed
    flt = spark.createDataFrame(
        [("a", i) for i in range(0, 40, 2)], "grp string, vec_id int"
    )
    fout = lsh_search(
        queries.filter(F.col("grp") == "a"), gidx, k=5,
        filter_ids=flt,
    ).collect()
    assert fout and all(
        r["grp"] == "a" and r["neighbor_id"] % 2 == 0 for r in fout
    )
    # ungrouped filter face still works (one-column id table)
    uidx = lsh_build(
        corpus.filter(F.col("grp") == "a"), dim=16, n_planes=4,
        n_tables=4,
    )
    uout = lsh_search(
        queries.filter(F.col("grp") == "a"), uidx, k=5,
        filter_ids=flt.select("vec_id"),
    ).collect()
    assert uout and all(r["neighbor_id"] % 2 == 0 for r in uout)


def test_ivf_cell_stats_hand_math_and_empty_cells(spark):
    """Closed-form balance report over a hand-assembled index: empty
    cells come from the CENTERS (not the corpus), imbalance is the
    FAISS n·Σn²/(Σn)² factor."""
    import numpy as np

    from datamunging_spark.operators.similarity import (
        IvfIndex,
        ivf_cell_stats,
    )

    assigned = spark.createDataFrame(
        [(1, [1.0], 0), (2, [1.1], 0), (3, [0.9], 0), (4, [5.0], 1)],
        "neighbor_id long, _cv array<double>, _cell int",
    )
    idx = IvfIndex(assigned, np.array([[1.0], [5.0], [9.0]]), 3)
    [s] = ivf_cell_stats(idx).collect()
    assert (s.n_cells, s.n_vectors, s.n_empty) == (3, 4, 1)
    assert (s.min_cell, s.max_cell) == (0, 3)
    assert abs(s.mean_cell - 4 / 3) < 1e-12
    assert abs(s.imbalance - 3 * (9 + 1 + 0) / 16) < 1e-12
    per = sorted(
        (r.cell, r.n_vectors)
        for r in ivf_cell_stats(idx, per_cell=True).collect()
    )
    assert per == [(0, 3), (1, 1), (2, 0)]


def test_ivf_cell_stats_grouped_face(spark):
    """Grouped report: one summary row per group (NULL group
    included), each over its OWN centers — a group's empty cell does
    not leak into another group's row."""
    import numpy as np

    from pyspark.sql.types import StringType

    from datamunging_spark.operators.similarity import (
        IvfIndex,
        ivf_cell_stats,
    )

    assigned = spark.createDataFrame(
        [
            ("en", 1, [1.0], 0),
            ("en", 2, [1.2], 0),
            (None, 1, [7.0], 0),
        ],
        "grp string, neighbor_id long, _cv array<double>, _cell int",
    )
    idx = IvfIndex(
        assigned,
        {"en": np.array([[1.0], [4.0]]), None: np.array([[7.0]])},
        2,
        mean_fit_dist={"en": 0.1, None: 0.1},
        group_col="grp",
        group_type=StringType(),
    )
    rows = {r.grp: r for r in ivf_cell_stats(idx).collect()}
    assert set(rows) == {"en", None}
    assert (rows["en"].n_cells, rows["en"].n_vectors,
            rows["en"].n_empty) == (2, 2, 1)
    assert (rows[None].n_cells, rows[None].n_vectors,
            rows[None].n_empty) == (1, 1, 0)
    per = sorted(
        (
            (r.grp, r.cell, r.n_vectors)
            for r in ivf_cell_stats(idx, per_cell=True).collect()
        ),
        key=lambda t: (t[0] is not None, t[0] or "", t[1]),
    )
    assert per == [
        (None, 0, 1), ("en", 0, 2), ("en", 1, 0),
    ]


def test_ann_recall_report_hand_math_and_pipeline(spark, tables):
    """Hand-math recall rows (miss, partial, zero-retrieval, unjudged
    dropped; k cutoff on both sides), then the real tuning loop:
    ivf_search recall vs brute force is measurable and n_probe=all
    recovers recall 1.0."""
    from datamunging_spark.operators.similarity import (
        ann_recall_report,
        brute_force_topk,
        ivf_build,
        ivf_search,
    )

    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (3, 30, 1)],
        "query_id long, neighbor_id long, rank int",
    )
    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 2), (1, 13, 3), (2, 20, 1)],
        "query_id long, neighbor_id long, rank int",
    )
    got = {
        r.query_id: (r.n_exact, r.n_hit, r.recall)
        for r in ann_recall_report(approx, exact).collect()
    }
    # q1: 2 of 3; q2: retrieved nothing -> 0; q3 unjudged -> dropped
    assert got == {1: (3, 2, 2 / 3), 2: (1, 0, 0.0)}
    at1 = {
        r.query_id: r.recall
        for r in ann_recall_report(approx, exact, k=1).collect()
    }
    assert at1 == {1: 1.0, 2: 0.0}

    emb = tables["embeddings"].limit(200).cache()
    qs = emb.limit(8)
    truth = brute_force_topk(qs, emb, k=5)
    idx = ivf_build(emb, n_clusters=8)
    rep = ann_recall_report(
        ivf_search(qs, idx, k=5, n_probe=2), truth
    ).agg(F.avg("recall").alias("r")).collect()[0].r
    assert 0.0 <= rep <= 1.0
    # n_probe = n_clusters scans every cell: the candidate set IS the
    # corpus, so recall vs brute force is total
    full = ann_recall_report(
        ivf_search(qs, idx, k=5, n_probe=8), truth
    ).agg(F.min("recall").alias("r")).collect()[0].r
    assert full == 1.0


def test_grouped_faces_reject_parity_risky_group_types(spark):
    """r16 (r15-close advice, medium): grouped vector faces bridge a
    driver-side dict keyed by Python str() to the in-plan Spark string
    cast; boolean ('True' vs 'true'), double and timestamp group
    columns silently orphan groups. Every grouped entry point now
    fails fast on a non-string/integral group column."""
    from datamunging_spark.operators.similarity import (
        ivf_build,
        pq_encode,
        pq_fit,
        pq_topk,
    )

    vecs = [(i, [float(i), 1.0], i % 2 == 0) for i in range(12)]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, flag boolean"
    )
    with pytest.raises(ValueError, match="group_col.*boolean"):
        ivf_build(emb, n_clusters=2, group_col="flag")
    cb = pq_fit(emb, m=2, k=4, iters=2)
    enc = pq_encode(emb, cb, group_col="flag")
    with pytest.raises(ValueError, match="group_col.*boolean"):
        pq_topk(
            emb.limit(2), enc, cb, k=2, group_col="flag"
        )
    # string and int group columns stay accepted
    emb_s = emb.withColumn("flag", F.col("flag").cast("string"))
    idx = ivf_build(emb_s, n_clusters=2, group_col="flag")
    assert set(idx.centers) == {"true", "false"}


def test_pq_query_batch_collect_is_guarded(spark):
    """r16 (r15 verdict "what's wrong #4"): pq_topk/ivf_pq_topk collect
    the query batch to build the ADC LUT — a corpus-scale batch now
    fails fast with instructions instead of an unbounded driver
    collect. The probe is limit(cap+1), so the guard itself never
    collects more than cap+1 rows."""
    import datamunging_spark.operators.similarity as S

    vecs = [(i, [float(i % 7), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    cb = S.pq_fit(emb, m=2, k=4, iters=2)
    enc = S.pq_encode(emb, cb)
    old = S._MAX_QUERY_BATCH
    S._MAX_QUERY_BATCH = 10
    try:
        with pytest.raises(ValueError, match="query batch exceeds 10"):
            S.pq_topk(emb, enc, cb, k=2)
        cells = S.pq_encode_cells(
            S.ivf_build(emb, n_clusters=2), cb
        )
        idx = S.ivf_build(emb, n_clusters=2)
        with pytest.raises(ValueError, match="query batch exceeds 10"):
            S.ivf_pq_topk(emb, idx, cb, cells, k=2)
        # at the cap, the path still works
        out = S.pq_topk(emb.limit(10), enc, cb, k=2)
        assert out.count() > 0
    finally:
        S._MAX_QUERY_BATCH = old
