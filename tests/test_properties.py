"""Hypothesis property tests (SURVEY.md §5.3): engine expressions must match
their Python reference semantics on arbitrary (ASCII) inputs, batched through
one DataFrame per example set for Spark-roundtrip economy."""

import functools
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from datamunging_spark.functions import (
    cast_int_hive,
    normalize_text,
    tokenize,
)

# ASCII-only: Spark's regex \s is ASCII by default while Python str.split()
# handles unicode whitespace — a documented boundary, not a parity target.
_ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
)


@settings(max_examples=5, deadline=None)
@given(st.lists(_ascii_text, min_size=1, max_size=30))
def test_tokenize_matches_python_split(spark, texts):
    """R22: tokenize == str.split(' ') including empty tokens."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", tokenize("t").alias("toks")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == t.split(" "), repr(t)


@settings(max_examples=5, deadline=None)
@given(st.lists(_ascii_text, min_size=1, max_size=30))
def test_normalize_matches_python(spark, texts):
    """X1 canonical form == ' '.join(s.lower().split())."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text("t").alias("n")).collect()
    }
    import re

    for i, t in enumerate(texts):
        assert got[i] == re.sub(r"\s+", " ", t.lower()).strip(), repr(t)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(-(2**31), 2**31 - 1).map(str),
            st.integers(-(2**31), 2**31 - 1).map(lambda x: f"  {x} "),
            _ascii_text,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cast_int_hive_matches_python(spark, values):
    """R18: trim + int() on success, NULL on failure (Hive semantics)."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], ["i", "v"]
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", cast_int_hive("v").alias("c")).collect()
    }

    def pyref(v: str):
        # Hive's LazyInteger accepts only [+-]?digits — unlike Python's
        # int(), which also takes '1_2' underscores and unicode digits.
        s = v.strip(" ")  # F.trim strips spaces only
        if not re.fullmatch(r"[+-]?[0-9]+", s):
            return None
        n = int(s)
        return n if -(2**31) <= n <= 2**31 - 1 else None

    for i, v in enumerate(values):
        assert got[i] == pyref(v), repr(v)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.from_regex(
            r"(https?://)?(www\.)?[a-z]{2,8}(\.[a-z]{2,6}){1,2}"
            r"(/[a-zA-Z0-9._~-]{0,12}){0,3}/?"
            r"(\?[a-z]{1,6}=[a-zA-Z0-9]{0,8}(&[a-z]{1,6}=[a-zA-Z0-9]{0,8}){0,3})?"
            r"(#[a-zA-Z0-9]{0,8})?",
            fullmatch=True,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_normalize_url_idempotent(spark, urls):
    """X1 canonical-URL form is a projection: applying it twice equals
    applying it once (the property that makes snapshot keys stable when a
    pipeline re-normalizes already-normalized URLs)."""
    from datamunging_spark.functions import normalize_url

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], ["i", "u"])
    out = df.select(
        "i",
        normalize_url("u").alias("once"),
        normalize_url(normalize_url("u")).alias("twice"),
    )
    for r in out.collect():
        assert r["once"] == r["twice"], urls[r["i"]]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(0, 2**40), min_size=1, max_size=40, unique=True),
    st.lists(
        st.floats(0.05, 1.0), min_size=1, max_size=4
    ).map(lambda ws: [w / sum(ws) for w in ws]),
)
def test_split_dataset_partitions_for_any_weights(spark, ids, weights):
    """X5 split is a PARTITION for arbitrary normalized weight vectors:
    every row gets exactly one label, labels come from the weight keys,
    and the assignment is deterministic across invocations."""
    from datamunging_spark.operators.trainset import split_dataset

    w = {f"s{i}": x for i, x in enumerate(weights)}
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    out = split_dataset(df, w, id_cols=["doc_id"]).collect()
    assert len(out) == len(ids)
    assert {r["split"] for r in out} <= set(w)
    again = split_dataset(df, w, id_cols=["doc_id"]).collect()
    assert {(r["doc_id"], r["split"]) for r in out} == {
        (r["doc_id"], r["split"]) for r in again
    }


@given(
    patterns=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=5), max_size=6
    ),
    hay=st.text(alphabet="abc", max_size=40),
)
@settings(max_examples=300, deadline=None)
def test_ac_automaton_equals_python_contains(patterns, hay):
    """The Aho-Corasick automaton agrees with `any(p in hay)` on arbitrary
    pattern sets and haystacks — overlaps, shared prefixes/suffixes,
    patterns containing each other, empty everything."""
    from datamunging_spark.operators.trainset import _ac_build, _ac_find_any

    auto = _ac_build(patterns)
    assert _ac_find_any(hay, auto) == any(p in hay for p in patterns)


# ---------------------------------------------------------------------------
# History-family identities on arbitrary keyed tables
# ---------------------------------------------------------------------------

_key = st.integers(min_value=0, max_value=9)
_val = st.one_of(st.none(), st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), max_size=4
))


def _keyed_table(draw_keys, draw_vals):
    """dict key -> value (unique keys by construction)."""
    return st.dictionaries(draw_keys, draw_vals, max_size=8)


@settings(max_examples=5, deadline=None)
@given(_keyed_table(_key, _val), _keyed_table(_key, _val))
def test_apply_extract_roundtrip_property(spark, old_d, new_d):
    """∀ old, new: apply(old, extract(old, new)) == new — the changelog
    identity on arbitrary keyed tables, NULL values included."""
    from datamunging_spark.operators.history import (
        apply_changelog,
        extract_changelog,
        snapshot_diff,
    )

    schema = "id int, s string"
    old = spark.createDataFrame(list(old_d.items()) or [], schema)
    new = spark.createDataFrame(list(new_d.items()) or [], schema)
    log = extract_changelog(old, new, ["id"], version=1)
    rebuilt = apply_changelog(old, log, ["id"], "ver", op_col="op")
    nk = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted(map(tuple, rebuilt.collect()), key=nk) == sorted(
        new_d.items(), key=nk
    )
    assert snapshot_diff(rebuilt, new, ["id"]).count() == 0


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_keyed_table(_key, _val), min_size=1, max_size=4)
)
def test_scd2_incremental_fold_equals_rebuild_property(spark, snap_dicts):
    """∀ snapshot stacks: folding through scd2_apply_snapshot == one
    scd2_build over the stack (arbitrary key churn, NULL attrs)."""
    from datamunging_spark.operators.history import (
        scd2_apply_snapshot,
        scd2_build,
    )

    schema = "id int, attr string"
    snaps = [
        spark.createDataFrame(list(d.items()) or [], schema)
        for d in snap_dicts
    ]
    stacked = None
    for v, s in enumerate(snaps, start=1):
        t = s.withColumn("v", F.lit(v))
        stacked = t if stacked is None else stacked.unionByName(t)
    full = scd2_build(stacked, ["id"], ["attr"], "v")

    inc = scd2_build(
        snaps[0].withColumn("v", F.lit(1)), ["id"], ["attr"], "v"
    )
    for v, s in enumerate(snaps[1:], start=2):
        inc = scd2_apply_snapshot(
            inc, s, ["id"], ["attr"], v
        ).localCheckpoint()
    cols = ["id", "attr", "effective_from", "effective_to", "is_current"]
    nk = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted(map(tuple, inc.select(*cols).collect()), key=nk) == sorted(
        map(tuple, full.select(*cols).collect()), key=nk
    )


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # user
            st.integers(min_value=0, max_value=20),  # ts
            st.sampled_from(["a", "b", "c", "x"]),   # event type
        ),
        min_size=1,
        max_size=40,
    )
)
def test_funnel_matches_python_reference(spark, events):
    """∀ event sets (ties and repeats included): funnel_report ==
    the chained-min reference (t_i = min ts of step-i events with
    ts >= t_{i-1})."""
    from datamunging_spark.operators.relational import funnel_report

    steps = ["a", "b", "c"]
    df = spark.createDataFrame(events, "user_id int, ts int, et string")
    got = {
        r.step: r.n_users
        for r in funnel_report(df, "user_id", "ts", "et", steps).collect()
    }
    # pure-python chained-min reference
    by_user = {}
    for u, ts, et in events:
        by_user.setdefault(u, []).append((ts, et))
    counts = [0] * len(steps)
    for evs in by_user.values():
        t_prev = None
        for i, s in enumerate(steps):
            cand = [
                ts for ts, et in evs
                if et == s and (t_prev is None or ts >= t_prev)
            ]
            if not cand:
                break
            t_prev = min(cand)
            counts[i] += 1
    assert got == {i + 1: c for i, c in enumerate(counts)}


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abcdefg ", min_size=0, max_size=120),
    st.text(alphabet="hijklmn ", min_size=0, max_size=120),
    st.text(alphabet="opqrstu ", min_size=50, max_size=90),
)
def test_winnowing_guarantee_property(prefix_a, prefix_b, shared):
    """The detection guarantee of span dedup, pure-Python (no Spark):
    ANY span of >= min_span chars shared between two docs must yield at
    least one common winnowed fingerprint at content-aligned positions,
    and anchor extension must recover a span covering the plant. Shared
    content is alphabet-disjoint from the fillers so the plant is the
    only qualifying span."""
    from datamunging_spark.operators.spandedup import (
        _extend_anchors,
        _winnow_rows,
    )

    min_span, gram = 50, 16
    window = min_span - gram + 1
    ta = prefix_a + shared
    tb = prefix_b + shared
    ra = _winnow_rows(ta, gram, window, min_span)
    rb = _winnow_rows(tb, gram, window, min_span)
    assert ra is not None and rb is not None
    ha, pa = ra
    hb, pb = rb
    anchors = [
        (int(x), int(y))
        for x, hx in zip(pa, ha)
        for y, hy in zip(pb, hb)
        if hx == hy
    ]
    assert anchors, "guarantee violated: no common fingerprint"
    spans = _extend_anchors(ta, tb, anchors, gram, min_span)
    # some recovered span must cover the entire plant in both docs
    la, lb = len(prefix_a), len(prefix_b)
    assert any(
        sa <= la and sb <= lb and sa + ln >= la + len(shared)
        for sa, sb, ln in spans
    ), f"plant not recovered: {spans}"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
             min_size=1, max_size=50),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=8, max_value=10_000),
)
def test_bloom_positions_bounded_and_deterministic(hashes, k, m_raw):
    """Bloom bit positions: always in [0, m), deterministic, and the k
    streams are distinct for k > 1 (Kirsch-Mitzenmacher h2 is odd, so
    consecutive streams differ unless m divides h2 — vanishingly rare,
    tolerated by checking ANY column pair differs across the batch)."""
    import numpy as np

    from datamunging_spark.operators.bloom import _positions

    m = (m_raw + 7) // 8 * 8
    h = np.array(hashes, dtype=np.int64).view(np.uint64)
    p1 = _positions(h, k, m)
    p2 = _positions(h, k, m)
    assert p1.shape == (len(hashes), k)
    assert (p1 == p2).all()
    assert (p1 < m).all()


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["a", "b", "c", "d"] + [f"u{i}" for i in range(40)]
        ),
        min_size=1,
        max_size=300,
    ),
    st.integers(min_value=2, max_value=12),
)
def test_heavy_hitters_mg_guarantees(spark, values, k):
    """X8 Misra-Gries invariants on arbitrary skew/k: every reported
    value brackets its true count, n_total is exact, and NO value with
    true count > the reported error budget is missing (the
    no-false-negative pigeonhole: f = sum(f_i) > sum(d_i) forces
    f_i > d_i in some partition, where the counter survives)."""
    from collections import Counter

    from pyspark.sql import functions as SF

    from datamunging_spark.operators.sketch import hh_report, hh_summary

    df = spark.createDataFrame(
        [(v,) for v in values], "value string"
    ).repartition(3)
    truth = Counter(values)
    summary = hh_summary(df, "value", k=k)
    rows = hh_report(summary).collect()
    sk = {r.value: r for r in rows}
    n = len(values)
    for v, r in sk.items():
        assert r.count_lo <= truth[v] <= r.count_hi, v
        assert r.n_total == n
    # the error budget comes from the summary's 'dec' meta row — an
    # EMPTY report is valid (all counters decremented away) and its
    # budget is NOT zero, so don't default it from missing report rows
    max_err = (
        summary.filter(SF.col("meta") == "dec")
        .agg(SF.coalesce(SF.sum("cnt"), SF.lit(0)))
        .first()[0]
    )
    for v, f_true in truth.items():
        if f_true > max_err:
            assert v in sk, (v, f_true, max_err)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", None]),
            st.sampled_from(
                ["a", "b", "c", None] + [f"u{i}" for i in range(30)]
            ),
        ),
        min_size=1,
        max_size=300,
    ),
    st.integers(min_value=2, max_value=12),
)
def test_grouped_heavy_hitters_mg_guarantees(spark, rows, k):
    """The Misra-Gries invariants per key group, NULL key included:
    every reported value brackets its true count within its key,
    n_total is the key's exact non-null count, no value whose true
    count exceeds its key's 'dec' total is missing, and after
    merge_grouped_hh_summaries every key holds at most k data rows
    whose report still brackets the truth."""
    from collections import Counter

    from datamunging_spark.operators.sketch import (
        grouped_hh_report,
        grouped_hh_summary,
        merge_grouped_hh_summaries,
    )

    df = spark.createDataFrame(rows, "lang string, value string").repartition(
        3
    )
    truth = Counter((g, v) for g, v in rows if v is not None)
    n_key = Counter(g for g, v in rows if v is not None)
    summary = grouped_hh_summary(df, ["lang"], "value", k=k).localCheckpoint()
    merged = merge_grouped_hh_summaries(
        summary, None, ["lang"], k=k
    ).localCheckpoint()
    for s in (summary, merged):
        state = s.collect()
        meta = {(r.lang, r.meta): r.cnt for r in state if r.meta is not None}
        assert {g: n for (g, m), n in meta.items() if m == "n"} == dict(n_key)
        rep = {
            (r.lang, r.value): r
            for r in grouped_hh_report(s, ["lang"]).collect()
        }
        for (g, v), r in rep.items():
            assert r.count_lo <= truth[(g, v)] <= r.count_hi, (g, v)
            assert r.n_total == n_key[g]
        for (g, v), f_true in truth.items():
            if f_true > meta[(g, "dec")]:
                assert (g, v) in rep, (g, v, f_true, meta[(g, "dec")])
    # ``state`` is the merged summary's after the loop
    per_key = Counter(r.lang for r in state if r.meta is None)
    assert all(c <= k for c in per_key.values()), per_key


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        min_size=1,
        max_size=400,
    ),
    st.integers(min_value=8, max_value=16),
)
def test_quantile_sketch_invariants(spark, values, k):
    """X8 KLL quantile invariants on arbitrary floats and the smallest
    k KLL allows: the summary's n is the exact count, and every
    reported value sits in the tie-aware nearest-rank bracket of the
    numpy exact ranks — count(x < v) - err < rank_target <= count(x <=
    v) + err — with err = ceil(2.296 / k^0.9723 * n) above k (the
    sketch's 99%-confidence single-query bound) and 0 at or below."""
    import math

    import numpy as np

    from datamunging_spark.operators.sketch import (
        quantile_report,
        quantile_summary,
    )

    df = spark.createDataFrame(
        [(float(v),) for v in values], "x double"
    ).repartition(3)
    s = quantile_summary(df, "x", k=k)
    n = len(values)
    err = 0 if n <= k else math.ceil(2.296 / k**0.9723 * n)
    sv = np.sort(np.asarray(values, dtype="float64"))
    rows = quantile_report(s, [0.0, 0.5, 1.0]).collect()
    assert sorted(r.q for r in rows) == [0.0, 0.5, 1.0]
    for r in rows:
        assert r.n_total == n
        assert r.max_rank_err == err
        assert r.rank_target == max(1, math.ceil(round(r.q * n, 8)))
        lt = int(np.searchsorted(sv, r.value, "left"))
        le = int(np.searchsorted(sv, r.value, "right"))
        assert lt - err < r.rank_target <= le + err, (r.q, r.value)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 1000), max_size=30),
        min_size=1,
        max_size=12,
    ),
    st.booleans(),
)
def test_concat_packed_conserves_tokens(spark, arrays, split_oversize):
    """concat_packed_sequences conserves the corpus token multiset for
    arbitrary id arrays, with and without oversize splitting; window
    length always equals bin_tokens, and with splitting on no window
    exceeds max_len."""
    from datamunging_spark.operators.trainset import concat_packed_sequences

    max_len = 8
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)],
        "doc_id long, token_ids array<int>",
    )
    out = concat_packed_sequences(
        df, max_len=max_len, num_groups=2, split_oversize=split_oversize
    ).collect()
    got = sorted(t for r in out for t in r["token_ids"])
    assert got == sorted(t for a in arrays for t in a)
    for r in out:
        assert len(r["token_ids"]) == r["bin_tokens"]
        if split_oversize:
            assert r["bin_tokens"] <= max_len and not r["truncated"]
        elif not r["truncated"]:
            assert r["bin_tokens"] <= max_len


@functools.lru_cache(maxsize=1)
def _bpe_fixture():
    # hoisted out of the hypothesis body: one fixture read + one
    # ranks/vocab build for all 200 examples, not one per example
    from datamunging_spark.operators.bpe import (
        bpe_vocab,
        load_fixture_merges,
        merges_to_ranks,
    )

    merges = load_fixture_merges()
    return merges, merges_to_ranks(merges), bpe_vocab(merges)


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_bpe_encode_decode_identity(text):
    """Byte-level BPE is lossless on ARBITRARY unicode text: encode to
    self-consistent ids, decode back, get the identical string — the
    property that makes the merges-only fixture a real tokenizer, not
    an estimator."""
    from datamunging_spark.operators.bpe import bpe_decode_ids, bpe_encode_ids

    merges, ranks, vocab = _bpe_fixture()
    ids = bpe_encode_ids(text, ranks, vocab)
    assert bpe_decode_ids(ids, merges) == text


@settings(max_examples=5, deadline=None)
@given(st.lists(_ascii_text, min_size=1, max_size=6))
def test_minhash_portable_signature_parity(spark, texts):
    """r12 portable tier on ARBITRARY ascii corpora: every signature
    slot equals the hashlib reference (lexicographic min over
    md5(seed|md5(shingle)) hex strings) — the engine-portability
    contract behind the fuzzy-dedup oracle rows, swept beyond the
    planted fixture."""
    import hashlib

    from datamunging_spark.operators.dedup import minhash_signatures_df

    NH = 8

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
            min(hashlib.md5(f"{s}|{h}".encode()).hexdigest() for h in hs)
            for s in range(NH)
        ]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: list(r["_sig"])
        for r in minhash_signatures_df(
            df, num_hashes=NH, portable=True
        ).collect()
    }
    assert got == {i: ref_sig(t) for i, t in enumerate(texts)}


@given(
    st.binary(min_size=1, max_size=600),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_phash_single_byte_edit_bounded(payload, data):
    """X3 dHash locality guarantee: ONE in-place byte substitution moves
    exactly one of the 72 bucket means (the spans partition the byte
    stream), which participates in at most its two adjacent row-local
    comparisons — so the Hamming distance is PROVABLY ≤ 2, the bound
    that makes planted in-place near-dups land inside the tight
    (hamming ≤ 3) band. Also pins determinism (same payload → same
    hash) on arbitrary bytes."""
    from datamunging_spark.operators.multimodal import (
        _dhash64,
        _fake_gray72,
    )

    h = _dhash64(_fake_gray72(payload))
    assert h == _dhash64(_fake_gray72(payload))  # deterministic
    off = data.draw(st.integers(0, len(payload) - 1))
    delta = data.draw(st.integers(1, 255))
    m = bytearray(payload)
    m[off] = (m[off] + delta) % 256
    h2 = _dhash64(_fake_gray72(bytes(m)))
    assert bin((h ^ h2) & ((1 << 64) - 1)).count("1") <= 2


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta zet eta".split()),
            min_size=0, max_size=12,
        ).map(" ".join),
        min_size=1, max_size=12,
    ),
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma quux".split()),
            min_size=1, max_size=4,
        ).map(" ".join),
        min_size=1, max_size=3,
    ),
)
def test_bm25_matches_python_reference(spark, texts, query_texts):
    """X2 lexical: engine BM25 == a driver-side pure-Python reference
    (the DSIR hashlib-reference discipline) on arbitrary word-salad
    corpora — idf/tf-normalization arithmetic, the decimal(28,7)
    contribution quantization (ROUND_HALF_UP, matching Spark's
    double→decimal cast), qtf=1 term-set semantics, and the
    (score desc, doc asc) total order all pinned."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from datamunging_spark.operators.retrieval import (
        bm25_topk,
        index_stats,
        inverted_index,
    )

    k1, b, k = 1.2, 0.75, 4
    docs = [(i, t) for i, t in enumerate(texts)]
    queries = [(i, q) for i, q in enumerate(query_texts)]

    # pure-Python reference
    toks = {i: [w for w in t.split(" ") if w != ""] for i, t in docs}
    n_docs = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    df: dict = {}
    for ws in toks.values():
        for w in set(ws):
            df[w] = df.get(w, 0) + 1
    q7 = Decimal("0.0000001")
    want = []
    for qid, q in queries:
        scores: dict = {}
        for term in {w for w in q.split(" ") if w != ""}:
            if term not in df:
                continue
            idf = math.log(1.0 + (n_docs - df[term] + 0.5) / (df[term] + 0.5))
            for i, ws in toks.items():
                tf = ws.count(term)
                if not tf:
                    continue
                tfn = (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * (len(ws) / avgdl))
                )
                c = Decimal(repr(idf * tfn)).quantize(q7, ROUND_HALF_UP)
                scores[i] = scores.get(i, Decimal(0)) + c
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        want += [
            (qid, i, r + 1, float(s)) for r, (i, s) in enumerate(ranked)
        ]

    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.bm25)
        for r in bm25_topk(
            inverted_index(ddf), qdf, index_stats(ddf), k=k, k1=k1, b=b
        ).collect()
    )
    assert got == sorted(want)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta".split()),
            min_size=0, max_size=8,
        ).map(" ".join),
        min_size=1, max_size=14,
    ),
    st.data(),
)
def test_advance_index_fold_equals_full_rebuild(spark, texts, data):
    """X2 lexical: folding ANY partition of a corpus into the index one
    batch at a time (advance_index) is postings-identical to the full
    rebuild, and the merged stats are bit-identical — the
    mergeable-summary property the streaming loop rides."""
    from datamunging_spark.operators.retrieval import (
        advance_index,
        combine_index_stats,
        index_stats,
        inverted_index,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(1, len(docs)), max_size=3, unique=True
            )
        )
    )
    bounds = [0] + cuts + [len(docs)]
    batches = [
        docs[a:b] for a, b in zip(bounds, bounds[1:]) if b > a
    ]
    schema = "doc_id long, text string"
    post = None
    stats = None
    for rows in batches:
        bdf = spark.createDataFrame(rows, schema)
        post = (
            inverted_index(bdf)
            if post is None
            else advance_index(post, bdf)
        )
        stats = (
            index_stats(bdf)
            if stats is None
            else combine_index_stats(stats, index_stats(bdf))
        )
    full = spark.createDataFrame(docs, schema)
    assert sorted(map(tuple, post.collect())) == sorted(
        map(tuple, inverted_index(full).collect())
    )
    assert stats.collect() == index_stats(full).collect()


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("a b c".split()), min_size=0, max_size=10
        ).map(" ".join),
        min_size=1, max_size=10,
    ),
    st.lists(
        st.lists(
            st.sampled_from("a b c".split()), min_size=1, max_size=3
        ).map(" ".join),
        min_size=1, max_size=3,
    ),
)
def test_phrase_topk_matches_sliding_window_reference(
    spark, texts, phrase_texts
):
    """X2 lexical: positional-intersection phrase search == the naive
    sliding-window count on arbitrary 3-symbol word salads — the
    adversarial regime for OVERLAPPING occurrences ("a a a" contains
    "a a" twice) and duplicate-term phrases, which the planted module
    test can't sweep."""
    from datamunging_spark.operators.retrieval import (
        inverted_index,
        phrase_topk,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    phrases = [(i, p) for i, p in enumerate(phrase_texts)]
    k = 5
    want = []
    for qid, ph in phrases:
        terms = [w for w in ph.split(" ") if w]
        scored = []
        for did, text in docs:
            toks = [w for w in text.split(" ") if w]
            freq = sum(
                1
                for p in range(len(toks) - len(terms) + 1)
                if toks[p:p + len(terms)] == terms
            )
            if freq:
                scored.append((did, freq))
        scored.sort(key=lambda x: (-x[1], x[0]))
        want += [
            (qid, did, r + 1, f)
            for r, (did, f) in enumerate(scored[:k])
        ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(phrases, "query_id long, query string")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.phrase_freq)
        for r in phrase_topk(
            inverted_index(ddf, positions=True), qdf, k=k
        ).collect()
    )
    assert got == sorted(want)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta".split()),
            min_size=0, max_size=10,
        ).map(" ".join),
        min_size=1, max_size=12,
    ),
    st.data(),
)
def test_near_topk_matches_window_reference(spark, texts, data):
    """X2 proximity: near_topk's codegen min-span scan == a brute-force
    all-windows Python reference on ANY corpus and query set, at any
    slop — the covering-window semantics hold exactly."""
    from datamunging_spark.operators.retrieval import (
        inverted_index,
        near_topk,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    n_q = data.draw(st.integers(1, 3))
    queries = [
        (
            qi,
            " ".join(
                data.draw(
                    st.lists(
                        st.sampled_from(
                            "alpha beta gamma delta".split()
                        ),
                        min_size=1,
                        max_size=3,
                    )
                )
            ),
        )
        for qi in range(n_q)
    ]
    slop = data.draw(st.integers(0, 4))
    k = 8
    want = []
    for qid, q in queries:
        terms = sorted({w for w in q.split(" ") if w})
        n = len(terms)
        scored = []
        for did, text in docs:
            toks = [w for w in text.split(" ") if w]
            best = None
            for i in range(len(toks)):
                seen = set()
                for j in range(i, len(toks)):
                    if toks[j] in terms:
                        seen.add(toks[j])
                    if len(seen) == n:
                        span = j - i + 1
                        best = span if best is None else min(best, span)
                        break
            if best is not None and best <= n + slop:
                scored.append((did, best))
        scored.sort(key=lambda x: (x[1], x[0]))
        want += [
            (qid, did, r + 1, s)
            for r, (did, s) in enumerate(scored[:k])
        ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.min_span)
        for r in near_topk(
            inverted_index(ddf, positions=True), qdf, k=k, slop=slop
        ).collect()
    )
    assert got == sorted(want)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1, max_size=12, unique=True,
    ),
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1, max_size=4, unique=True,
    ),
    st.integers(1, 2),
)
def test_spell_suggest_exact_recall_property(spark, vocab, qterms, d):
    """X2 spell: the SymSpell delete-neighborhood join finds EXACTLY
    the vocabulary terms within Levenshtein distance d of each query
    term — recall proven exhaustively against all-pairs edit distance
    on arbitrary short strings."""
    from datamunging_spark.operators.retrieval import spell_suggest

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    dfreq = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(vocab)], "term string, df long"
    )
    qdf = spark.createDataFrame([(t,) for t in qterms], "term string")
    got: dict = {}
    for r in spell_suggest(dfreq, qdf, k=100, max_edit=d).collect():
        got.setdefault(r.term, set()).add((r.suggestion, r.distance))
    for qt in qterms:
        want = {(v, lev(qt, v)) for v in vocab if lev(qt, v) <= d}
        assert got.get(qt, set()) == want, (qt, d)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma".split()),
            min_size=0, max_size=10,
        ).map(" ".join),
        min_size=1, max_size=12,
    ),
    st.data(),
)
def test_near_topk_ordered_matches_greedy_reference(spark, texts, data):
    """X2 proximity, inOrder=true: the minimal-window-subsequence DP ==
    the greedy earliest-completion reference on ANY corpus, query
    sequence (duplicates included) and slop."""
    from datamunging_spark.operators.retrieval import (
        inverted_index,
        near_topk,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    terms = data.draw(
        st.lists(
            st.sampled_from("alpha beta gamma".split()),
            min_size=1, max_size=4,
        )
    )
    slop = data.draw(st.integers(0, 4))
    k = 8

    def ordered_min_span(toks):
        best = None
        for i, t in enumerate(toks):
            if t != terms[0]:
                continue
            j, ok = i, True
            for term in terms[1:]:
                nxt = next(
                    (
                        p
                        for p in range(j + 1, len(toks))
                        if toks[p] == term
                    ),
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

    scored = []
    for did, text in docs:
        toks = [w for w in text.split(" ") if w]
        best = ordered_min_span(toks)
        if best is not None and best <= len(terms) + slop:
            scored.append((did, best))
    scored.sort(key=lambda x: (x[1], x[0]))
    want = sorted(
        (0, did, r + 1, s) for r, (did, s) in enumerate(scored[:k])
    )
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(
        [(0, " ".join(terms))], "query_id long, query string"
    )
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.min_span)
        for r in near_topk(
            inverted_index(ddf, positions=True),
            qdf,
            k=k,
            slop=slop,
            ordered=True,
        ).collect()
    )
    assert got == want
