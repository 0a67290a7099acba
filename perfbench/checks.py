"""Reference answers computed without the code under test.

Each function here derives the expected output from the generator's
recorded facts, from numpy, or from DuckDB reading the generator's own
truth files — never from a ``datamunging_spark`` result.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

#: bucket ladder given to ``percentile_bucketize`` and to DuckDB alike
PERCENTILES = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
BUCKET_LABELS = ("p10", "p25", "p50", "p75", "p90", "p99")
BUCKET_ELSE = "p99+"


def duckdb_bucket_bounds(truth_parquet: str, key: str, value: str) -> dict:
    """Rows per bucket of the percentile ladder, per ``key``, by DuckDB's
    ``quantile_cont`` (linear interpolation, the exact-percentile
    definition) over the generator's truth table.

    Two engines may round an interpolated boundary to different sides of
    a data value by one ulp, which moves that row to the next bucket. So
    the ladder is evaluated twice, with every boundary nudged down and up
    by a relative 1e-9; the returned cumulative counts bracket every
    correct answer."""
    import duckdb

    qs = ", ".join(str(p) for p in PERCENTILES)
    con = duckdb.connect()
    try:
        out = {}
        for side, nudge in (("low", "- 1e-9 * abs"), ("high", "+ 1e-9 * abs")):
            arms = " ".join(
                f"WHEN t.{value} <= p.q[{i + 1}] {nudge}(p.q[{i + 1}]) THEN {i}"
                for i in range(len(BUCKET_LABELS)))
            rows = con.execute(f"""
                WITH t AS (SELECT * FROM read_parquet('{truth_parquet}')),
                p AS (SELECT {key}, quantile_cont({value}, [{qs}]) AS q
                      FROM t GROUP BY {key})
                SELECT CASE {arms} ELSE {len(BUCKET_LABELS)} END AS b, count(*)
                FROM t JOIN p ON t.{key} = p.{key}
                GROUP BY 1""").fetchall()
            out[side] = _cumulative(dict(rows))
        return out
    finally:
        con.close()


def _cumulative(by_index: dict) -> list:
    counts = [by_index.get(i, 0) for i in range(len(BUCKET_LABELS) + 1)]
    return [sum(counts[:i + 1]) for i in range(len(counts))]


def buckets_match(pairs, bounds: dict) -> bool:
    """True when the (bucket, count) pairs lie within ``bounds`` from
    :func:`duckdb_bucket_bounds`."""
    labels = list(BUCKET_LABELS) + [BUCKET_ELSE]
    by_label = dict(pairs)
    if set(by_label) - set(labels):
        return False
    got = _cumulative({i: by_label.get(lab, 0) for i, lab in enumerate(labels)})
    return all(lo <= g <= hi for lo, g, hi in zip(bounds["low"], got, bounds["high"]))


def terms(text: str) -> list[str]:
    """Lower-case, split on single spaces, drop empty tokens."""
    return [w for w in text.lower().split(" ") if w]


class Bm25Reference:
    """Okapi BM25 (Lucene "+1" idf, k1=1.2, b=0.75) in numpy over a fixed
    corpus; query terms are a set."""

    def __init__(self, ids, texts, k1: float = 1.2, b: float = 0.75):
        self.ids = np.asarray(ids)
        self.k1, self.b = k1, b
        self.tf: list[Counter] = [Counter(terms(t)) for t in texts]
        self.dl = np.array([sum(c.values()) for c in self.tf], float)
        self.avgdl = self.dl.mean()
        self.df: Counter = Counter()
        for c in self.tf:
            self.df.update(c.keys())
        self.n = len(self.tf)
        self._post: dict[str, list[int]] = {}
        for i, c in enumerate(self.tf):
            for t in c:
                self._post.setdefault(t, []).append(i)

    def scores(self, query: str) -> dict[int, float]:
        out: dict[int, float] = {}
        for t in set(terms(query)):
            df = self.df.get(t, 0)
            if not df:
                continue
            idf = math.log(1 + (self.n - df + 0.5) / (df + 0.5))
            for i in self._post[t]:
                tf = self.tf[i][t]
                norm = tf * (self.k1 + 1) / (
                    tf + self.k1 * (1 - self.b + self.b * self.dl[i] / self.avgdl))
                out[i] = out.get(i, 0.0) + idf * norm
        return {int(self.ids[i]): s for i, s in out.items()}

    def topk_matches(self, query: str, hits: list, k: int = 10,
                     tol: float = 1e-6) -> bool:
        """``hits`` = [(doc_id, score)] in rank order. True when every hit
        carries its reference score, the hits tie-break on ``doc_id`` and
        no better-scoring document is missing."""
        ref = self.scores(query)
        want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        if len(hits) != len(want):
            return False
        if not hits:  # no query term occurs in the corpus
            return True
        for doc, score in hits:
            if doc not in ref or abs(ref[doc] - score) > tol:
                return False
        for (d1, s1), (d2, s2) in zip(hits, hits[1:]):
            if s2 > s1 + tol or (ref[d1] == ref[d2] and d1 > d2):
                return False
        return abs(hits[-1][1] - want[-1][1]) <= tol


def exact_cosine_topk(corpus: np.ndarray, ids: np.ndarray, q: np.ndarray,
                      k: int = 10) -> set:
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    s = c @ (q / np.linalg.norm(q))
    return set(ids[np.argsort(-s, kind="stable")[:k]].tolist())
