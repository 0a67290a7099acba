"""The workloads.

Each workload has the same four parts, which ``run.py`` drives:

* ``prepare(seed, work)`` — generate (or reuse) the seeded input files
  and the expected answers; not timed.
* ``setup(spark, tr, inputs)`` — the warm-up after session start, timed
  as part of ``setup_s``.
* ``step(spark, tr, state, i)`` — operation ``i``: one pipeline pass
  (``reference_features``), or the index build then one request per step
  (``search_ingest``). Returns a list of ``Outcome``.
* ``finish(spark, tr, state)`` — the workload's recall figure; on a
  traced run also the layer ratios that need a probe of their own.

Every call into ``datamunging_spark`` goes through ``tr.call`` (until the
public function returns) or ``tr.action`` (the action that forces the
result), tagged with the layer the function belongs to.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen


@dataclass
class Outcome:
    """One operation: a pipeline stage, a request or an ingest batch."""

    kind: str  # "build", "stage", "query" or "ingest"
    name: str
    seconds: float
    ok: bool = True
    items: int = 0


@dataclass
class Timer:
    outcomes: list = field(default_factory=list)

    def run(self, kind: str, name: str, fn, items: int = 0):
        """Time ``fn``; a raised exception is a failed operation."""
        import traceback

        t0 = time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception:  # a failed operation must not end the run
            traceback.print_exc()
            result, ok = None, False
        self.outcomes.append(
            Outcome(kind, name, time.perf_counter() - t0, ok, items))
        return result

    def fail(self, name: str) -> None:
        """Mark the latest operation called ``name`` as wrong."""
        for o in reversed(self.outcomes):
            if o.name == name:
                o.ok = False
                return


def _cached(path: str, build) -> dict:
    """Run ``build(tmp_dir)`` once per ``path``; its facts.json marks a
    complete cache entry."""
    facts_path = os.path.join(path, "facts.json")
    if os.path.exists(facts_path):
        with open(facts_path) as f:
            return json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    facts = build(tmp)
    with open(os.path.join(tmp, "facts.json"), "w") as f:
        json.dump(facts, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return facts


# --------------------------------------------------------------------------
# reference_features: the paper's recipe chain
# --------------------------------------------------------------------------


class ReferenceFeatures:
    name = "reference_features"
    min_ops = 1  # passes

    def __init__(self, rows: int):
        self.spec = gen.MedicareSpec(rows=rows)

    def prepare(self, seed: int, work: str) -> dict:
        def build(d):
            facts = gen.write_medicare(self.spec, seed, d)
            facts["bucket_bounds"] = checks.duckdb_bucket_bounds(
                os.path.join(d, "truth.parquet"), "hcpcs_code",
                "average_submitted_chrg_amt")
            return facts

        path = os.path.join(work, "inputs", f"medicare-{self.spec.rows}-{seed}")
        facts = _cached(path, build)
        warm = os.path.join(work, "inputs", "medicare-warmup")
        warm_facts = _cached(warm, lambda d: gen.write_medicare(
            gen.MedicareSpec(rows=5000), 0, d))
        return {"dir": path, "facts": facts, "warm_dir": warm,
                "warm_facts": warm_facts, "out": os.path.join(work, "out"),
                "seed": seed}

    def facts(self, inputs: dict) -> dict:
        f = inputs["facts"]
        return {"csv_rows": f["csv_rows"], "well_formed_rows": f["well_formed_rows"],
                "planted_failures": f["failed"], "spec": f["spec"]}

    def setup(self, spark, tr, inputs: dict) -> dict:
        state = {"inputs": inputs, "hh_recall": []}
        # warm-up: ingest and check a small file of the same shape
        self._pass(spark, tr, state, inputs["warm_dir"], inputs["warm_facts"],
                   Timer(), check=False, warm=True)
        return state

    def step(self, spark, tr, state: dict, i: int) -> list:
        inputs = state["inputs"]
        timer = Timer()
        with tr.op(f"pass-{i}"):
            self._pass(spark, tr, state, inputs["dir"], inputs["facts"], timer)
        return timer.outcomes

    def finish(self, spark, tr, state: dict) -> float:
        return float(np.mean(state["hh_recall"])) if state["hh_recall"] else 0.0

    def _pass(self, spark, tr, state, src: str, facts: dict, timer: Timer,
              check: bool = True, warm: bool = False) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType, StructField, StructType

        from datamunging_spark.operators import ml, quality, relational, sampling, sketch
        from datamunging_spark.sources import materialize_columnar, read_csv

        schema = StructType(
            [StructField(c, StringType()) for c in gen.MEDICARE_COLUMNS]
            + [StructField("_corrupt_record", StringType())])
        rules = [
            quality.not_empty_rule("npi_present", "npi"),
            quality.regex_rule("hcpcs_valid", "hcpcs_code", gen.HCPCS_PATTERN),
            quality.Rule("well_formed", F.col("_corrupt_record").isNull()),
            quality.regex_rule("srvc_unpadded", "line_srvc_cnt", gen.COUNT_PATTERN),
        ]
        n_rows = facts["csv_rows"]

        # 1. dirty CSV ingest + quality report
        def read_and_report():
            raw = tr.call("sources", read_csv, spark, os.path.join(src, "csv"), schema)
            # Spark refuses queries that touch only the corrupt-record
            # column of an uncached CSV scan
            raw = raw.cache()
            summary = tr.call("quality", quality.validation_summary, raw, rules)
            report = tr.call("quality", quality.invalid_value_report, raw,
                             rules[1], "hcpcs_code")
            s_row, r_rows = tr.action(
                "quality", lambda: (summary.collect()[0], report.collect()))
            return raw, s_row, r_rows

        got = timer.run("build", "read_quality", read_and_report, n_rows)
        if got is None:
            return
        raw, s_row, r_rows = got
        if warm:
            raw.unpersist()
            return
        if check:
            want = facts["failed"]
            counts = {json.dumps(r["hcpcs_code"]): r["cnt"] for r in r_rows}
            if (s_row["total_rows"] != facts["csv_rows"]
                    or any(s_row[f"{k}_failed"] != v for k, v in want.items())
                    or counts != facts["invalid_hcpcs_counts"]):
                timer.fail("read_quality")

        # 2. typed cast + columnar materialization (the write path)
        out = os.path.join(state["inputs"]["out"], "medicare_parquet")

        def cast_and_write():
            typed = raw.filter(F.col("_corrupt_record").isNull()).select(
                "npi", "provider_type", "hcpcs_code", "nppes_provider_state",
                *[F.trim(c).cast("long").alias(c) for c in gen.COUNT_COLUMNS],
                *[F.regexp_replace(c, "[$,]", "").cast("double").alias(c)
                  for c in gen.MONEY_COLUMNS])
            tr.action("sources", lambda: materialize_columnar(typed, out),
                      "materialize_columnar")
            raw.unpersist()

        timer.run("build", "materialize", cast_and_write)
        if not timer.outcomes[-1].ok:
            return
        m = spark.read.parquet(out)

        # 3. the sampling family
        def sample_all():
            types = {t: 0.1 for t in gen.PROVIDER_TYPES.tolist()}
            frames = [
                tr.call("sampling", sampling.bernoulli_sample, m, 0.1, seed=7),
                tr.call("sampling", sampling.sample_by_key, m, "npi", 20),
                tr.call("sampling", sampling.stratified_sample, m,
                        "provider_type", types, seed=7),
                tr.call("sampling", sampling.sample_n, m, 10_000, seed=7),
            ]
            return tr.action("sampling", lambda: [f.count() for f in frames])

        sizes = timer.run("stage", "sampling", sample_all)
        if check and sizes is not None and sizes[3] != min(10_000, facts["well_formed_rows"]):
            timer.fail("sampling")

        # 4. exact per-code percentile bucketing
        def bucketize():
            b = tr.call("relational", relational.percentile_bucketize, m,
                        "hcpcs_code", "average_submitted_chrg_amt", ["npi"],
                        percentiles=checks.PERCENTILES, labels=checks.BUCKET_LABELS,
                        else_label=checks.BUCKET_ELSE)
            return tr.action("relational",
                             lambda: b.groupBy("bucket").count().collect())

        buckets = timer.run("stage", "bucketize", bucketize)
        if check and buckets is not None and \
                not checks.buckets_match(buckets, facts["bucket_bounds"]):
            timer.fail("bucketize")

        # 5. sketches: heavy hitters + quantiles
        def sketches():
            hh = tr.call("sketch", sketch.heavy_hitters, m, "hcpcs_code", k=256)
            qs = tr.call("sketch", sketch.quantiles_sketch, m,
                         "average_submitted_chrg_amt", [0.5, 0.9, 0.99])
            return tr.action("sketch", lambda: (hh.collect(), qs.collect()))

        sk = timer.run("stage", "sketch", sketches)
        if check and sk is not None:
            top = sorted(sk[0], key=lambda r: (-r["count_hi"], r["value"]))[:10]
            recall = len({r["value"] for r in top} & set(facts["top_codes"])) / 10
            state["hh_recall"].append(recall)
            if len(sk[1]) != 3:
                timer.fail("sketch")

        # 6. PCA on the numeric feature matrix
        def pca():
            feats = m.select(F.array(*[F.col(c).cast("double") for c in
                                       gen.COUNT_COLUMNS + gen.MONEY_COLUMNS]
                                     ).alias("embedding"))
            model = tr.call("ml", ml.fit_pca, feats, k=3)
            proj = tr.call("ml", ml.pca_project, model, feats)
            n = tr.action("ml", lambda: proj.select("pca").count())
            return model, n

        got = timer.run("stage", "pca", pca)
        if check and got is not None and got[1] != facts["well_formed_rows"]:
            timer.fail("pca")


def _corpus_inputs(spec: gen.CorpusSpec, seed: int, work: str, kind: str,
                   write) -> dict:
    path = os.path.join(work, "inputs", f"{kind}-{spec.docs}-{seed}")

    def build(d):
        corpus = gen.build_corpus(spec, seed)
        facts = gen.corpus_facts(spec, corpus)
        facts.update(write(corpus, d, seed))
        return facts

    return {"dir": path, "facts": _cached(path, build), "seed": seed,
            "out": os.path.join(work, "out")}


# --------------------------------------------------------------------------
# search_ingest: interactive search with interleaved ingest
# --------------------------------------------------------------------------

#: fixed request schedule; the seed picks each request's content only
SCHEDULE = ("bm25", "ivf", "phrase", "ingest", "fresh")
BM25_CHECKED = (0,)  # requests checked against the numpy reference
BATCH_DOCS = 60


class SearchIngest:
    name = "search_ingest"
    min_ops = 1 + len(SCHEDULE)  # the build, then one ingest batch and its probe

    def __init__(self, docs: int):
        self.spec = gen.CorpusSpec(docs=docs)

    def prepare(self, seed: int, work: str) -> dict:
        def write(corpus, d, seed):
            texts = corpus["texts"]
            n = len(texts)
            rng = np.random.default_rng([seed, 4])
            perm = rng.permutation(n)
            n_base = int(n * 0.9)
            base, held = np.sort(perm[:n_base]), perm[n_base:]
            vecs = gen.clustered_vectors(self.spec, n, seed)
            gen.write_corpus_parquet([texts[i] for i in base], base,
                                     os.path.join(d, "base_docs"))
            gen.write_vectors_parquet(vecs[base], base, os.path.join(d, "base_vecs"))
            np.save(os.path.join(d, "vecs.npy"), vecs)
            batches = [held[i:i + BATCH_DOCS] for i in range(0, held.size, BATCH_DOCS)]
            for b, ids in enumerate(batches):
                gen.write_corpus_parquet([texts[i] for i in ids], ids,
                                         os.path.join(d, f"batch-{b}", "docs"))
                gen.write_vectors_parquet(vecs[ids], ids,
                                          os.path.join(d, f"batch-{b}", "vecs"))
            gen.write_corpus_parquet(corpus["passages"], range(len(corpus["passages"])),
                                     os.path.join(d, "benchmark"))
            pairs = corpus["exact_pairs"] + corpus["near_pairs"]
            touched = {p[0] for p in pairs} | {p[1] for p in pairs}
            dropped = set(corpus["junk"]) | set(corpus["contaminated"])
            plain = set(range(corpus["orig"])) - touched - dropped
            # a freshness probe per batch: an untouched doc and its four
            # rarest terms
            quiet = plain - set(corpus["pii_docs"]) - set(corpus["span_docs"]) \
                - set(corpus["boilerplate_docs"])
            df = {}
            for t in texts:
                for w in set(checks.terms(t)):
                    df[w] = df.get(w, 0) + 1
            fresh = []
            for ids in batches:
                doc = next(int(i) for i in ids if int(i) in quiet)
                words = sorted(set(checks.terms(texts[doc])), key=lambda w: (df[w], w))
                fresh.append({"doc": doc, "query": " ".join(words[:4])})
            return {"base_ids": base.tolist(), "batches": len(batches),
                    "batch_ids": [b.tolist() for b in batches], "fresh": fresh,
                    "plain": sorted(plain), "dropped": sorted(dropped),
                    "exact_pairs": corpus["exact_pairs"],
                    "near_pairs": [p[:2] for p in corpus["near_pairs"]]}

        inputs = _corpus_inputs(self.spec, seed, work, "search", write)
        inputs["requests"] = self._requests(inputs, seed)
        return inputs

    def _requests(self, inputs: dict, seed: int) -> list:
        """Request contents for one run's worth of schedule cycles."""
        corpus = gen.build_corpus(self.spec, inputs["seed"])
        vocab, probs = corpus["vocab"], corpus["probs"].copy()
        probs[:len(gen.STOPWORDS)] = 0
        probs /= probs.sum()
        rng = np.random.default_rng([seed, 5])
        base = inputs["facts"]["base_ids"]
        vecs = np.load(os.path.join(inputs["dir"], "vecs.npy"))
        texts = corpus["texts"]
        out = []
        for i in range(len(SCHEDULE) * 40):
            kind = SCHEDULE[i % len(SCHEDULE)]
            doc = int(base[int(rng.integers(0, len(base)))])
            words = [w for w in checks.terms(texts[doc]) if w not in gen.STOPWORDS]
            pick = lambda n: " ".join(rng.choice(vocab, n, p=probs).tolist())  # noqa: E731
            start = int(rng.integers(0, max(1, len(words) - 3)))
            out.append({
                "kind": kind,
                "query": pick(int(rng.integers(1, 5))),
                "phrase": " ".join(words[start:start + int(rng.integers(2, 4))]),
                "vec": (vecs[doc] + rng.normal(0, 0.1, vecs.shape[1])).astype(
                    np.float32).tolist(),
            })
        return out

    def facts(self, inputs: dict) -> dict:
        f = dict(inputs["facts"])
        for k in ("fresh", "base_ids", "batch_ids", "plain", "dropped",
                  "exact_pairs", "near_pairs"):
            f.pop(k)
        f["batch_docs"] = BATCH_DOCS
        f["schedule"] = list(SCHEDULE)
        return f

    def setup(self, spark, tr, inputs: dict) -> dict:
        from pyspark.sql import functions as F

        # warm-up: open the corpus the index build reads
        spark.read.parquet(os.path.join(inputs["dir"], "base_docs")).count()
        return {"inputs": inputs, "F": F}

    def _build(self, spark, tr, state: dict) -> None:
        """Build every index the requests and ingest batches use."""
        from datamunging_spark.operators.dedup import (
            Snapshots, band_bloom_build, content_snapshot, minhash_signatures_df)
        from datamunging_spark.operators.retrieval import (
            index_stats, inverted_index, term_stats)
        from datamunging_spark.operators.similarity import ivf_build
        from datamunging_spark.sources.versioned import (
            read_table_version, write_table_version)

        inputs, F = state["inputs"], state["F"]
        d = inputs["dir"]
        store = os.path.join(inputs["out"], "index")
        shutil.rmtree(store, ignore_errors=True)
        docs = spark.read.parquet(os.path.join(d, "base_docs"))
        vecs = spark.read.parquet(os.path.join(d, "base_vecs"))
        post = tr.call("retrieval", inverted_index, docs, positions=True)
        tr.action("versioned", lambda: write_table_version(post, store + "/postings", 0))
        post = tr.call("versioned", read_table_version, spark, store + "/postings", 0)
        stats = tr.call("retrieval", index_stats, docs)
        dfreq = tr.call("retrieval", term_stats, post)
        stats, dfreq = tr.action(
            "retrieval", lambda: (stats.localCheckpoint(), dfreq.localCheckpoint()))
        snap_c = tr.call("dedup", content_snapshot, docs)
        snap_s = tr.call("dedup", minhash_signatures_df, docs)
        snaps = Snapshots(*tr.action(
            "dedup", lambda: (snap_c.localCheckpoint(), snap_s.localCheckpoint())))
        n_cap = len(inputs["facts"]["base_ids"]) * 2 * 16
        bloom = tr.call("dedup", band_bloom_build, snaps.signatures, num_items=n_cap)
        ivf = tr.call("similarity", ivf_build, vecs, n_clusters=32, seed=7)
        ivf.assigned = tr.action("similarity", lambda: ivf.assigned.localCheckpoint())
        state.update({
            "store": store, "docs": docs, "post": post,
            "stats": stats, "dfreq": dfreq, "snaps": snaps, "bloom": bloom,
            "ivf": ivf, "version": 0, "batch": 0, "n_cap": n_cap,
            "ingested": [], "recall": [], "near_removed": 0, "near_seen": 0,
            "bench": spark.read.parquet(os.path.join(d, "benchmark")),
            "bm25_ref": None,
        })

    def step(self, spark, tr, state: dict, i: int) -> list:
        """Operation 0 builds the indexes; then one request per step."""
        timer = Timer()
        if i == 0:
            with tr.op("build"):
                timer.run("build", "build", lambda: self._build(spark, tr, state))
            return timer.outcomes
        requests = state["inputs"]["requests"]
        req = requests[(i - 1) % len(requests)]
        if "post" not in state:  # the build failed: nothing to query
            return [Outcome("query", req["kind"], 0.0, ok=False)]
        with tr.op(f"req-{i}-{req['kind']}"):
            if req["kind"] == "ingest":
                self._ingest(spark, tr, state, timer)
            elif req["kind"] == "fresh":
                self._fresh(spark, tr, state, timer)
            else:
                self._query(spark, tr, state, req, timer,
                            check=i - 1 in BM25_CHECKED and state["batch"] == 0)
        return timer.outcomes

    def finish(self, spark, tr, state: dict) -> float:
        if tr.enabled:
            # false positives of a content-hash filter over the base corpus,
            # probed with documents that are certainly absent
            from pyspark.sql import functions as F

            from datamunging_spark.operators.bloom import bloom_build, bloom_might_contain
            from datamunging_spark.operators.dedup import content_snapshot

            seed = state["inputs"]["seed"]
            bloom = bloom_build(content_snapshot(state["docs"]), ["content_hash"],
                                fpp=0.01)
            absent = spark.createDataFrame(
                [(i, f"absent probe {seed} {i}") for i in range(20_000)],
                "doc_id long, text string")
            fp = content_snapshot(absent).agg(F.avg(bloom_might_contain(
                bloom, F.col("content_hash")).cast("double"))).first()[0]
            tr.extra["bloom.false_positive_rate"] = (fp, "ratio")
            # LSH candidates vs pairs confirmed at the ingest threshold
            from datamunging_spark.operators.dedup import minhash_lsh_pairs

            pairs, sig = minhash_lsh_pairs(state["docs"], _return_sig=True)
            row = pairs.agg(F.count(F.lit(1)).alias("n"), F.sum(
                (F.col("sig_jaccard") >= 0.5).cast("long")).alias("hit")).first()
            sig.unpersist()
            tr.extra["dedup.candidate_yield"] = (
                (row["hit"] or 0) / max(1, row["n"]), "ratio")
            tr.extra["dedup.neardup_recall"] = (
                state["near_removed"] / max(1, state["near_seen"]), "ratio")
        return float(np.mean(state["recall"])) if state["recall"] else 0.0

    # -- requests ---------------------------------------------------------

    def _bm25(self, spark, tr, state, text: str):
        from datamunging_spark.operators.retrieval import bm25_topk

        q = spark.createDataFrame([(0, text)], "query_id long, query string")
        return tr.call("retrieval", bm25_topk, state["post"], q, state["stats"],
                       k=10, dfreq=state["dfreq"])

    def _ivf(self, spark, tr, state, vec):
        from datamunging_spark.operators.similarity import ivf_search

        # a negative id: ivf_search never returns the query's own id
        q = spark.createDataFrame([(-1, vec)], "vec_id long, embedding array<float>")
        return tr.call("similarity", ivf_search, q, state["ivf"], k=10, n_probe=4)

    def _query(self, spark, tr, state, req: dict, timer: Timer,
               check: bool) -> None:
        from datamunging_spark.operators.retrieval import phrase_topk

        kind = req["kind"]

        def run():
            if kind == "bm25":
                hits = self._bm25(spark, tr, state, req["query"])
                return tr.action("retrieval", lambda: hits.collect(), "bm25")
            if kind == "phrase":
                q = spark.createDataFrame([(0, req["phrase"])],
                                          "query_id long, query string")
                hits = tr.call("retrieval", phrase_topk, state["post"], q, k=10)
                return tr.action("retrieval", lambda: hits.collect(), "phrase")
            if kind == "ivf":
                hits = self._ivf(spark, tr, state, req["vec"])
                return tr.action("similarity", lambda: hits.collect(), "ivf")
            raise ValueError(f"unknown request kind {kind!r}")

        rows = timer.run("query", kind, run, 1)
        if rows is None:
            return
        if kind == "ivf":
            self._ann_recall(state, req["vec"], [r["neighbor_id"] for r in rows])
        if check and kind == "bm25":
            if state["bm25_ref"] is None:
                state["bm25_ref"] = self._bm25_reference(spark, state)
            hits = sorted(((r["doc_id"], float(r["bm25"]), r["rank"]) for r in rows),
                          key=lambda h: h[2])
            if not state["bm25_ref"].topk_matches(
                    req["query"], [(d, s) for d, s, _ in hits]):
                timer.fail(kind)

    def _bm25_reference(self, spark, state) -> checks.Bm25Reference:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(state["inputs"]["dir"], "base_docs")).to_pydict()
        return checks.Bm25Reference(t["doc_id"], t["text"])

    def _ann_recall(self, state, vec, got: list) -> None:
        inputs = state["inputs"]
        if "vecs" not in state:
            state["vecs"] = np.load(os.path.join(inputs["dir"], "vecs.npy"))
        ids = np.array(sorted(set(inputs["facts"]["base_ids"]) | set(state["ingested"])))
        want = checks.exact_cosine_topk(state["vecs"][ids], ids,
                                        np.asarray(vec, np.float32))
        state["recall"].append(len(want & set(got)) / 10)

    def _fresh(self, spark, tr, state, timer: Timer) -> None:
        """Freshness: the last ingested batch's probe doc is findable."""
        b = state["batch"] - 1
        probe = state["inputs"]["facts"]["fresh"][b]

        def run():
            hits = self._bm25(spark, tr, state, probe["query"])
            return tr.action("retrieval", lambda: hits.collect(), "bm25")

        rows = timer.run("query", "fresh", run, 1)
        if rows is not None and probe["doc"] not in {r["doc_id"] for r in rows}:
            timer.fail("fresh")

    def _ingest(self, spark, tr, state, timer: Timer) -> None:
        from datamunging_spark.operators.bloom import bloom_or
        from datamunging_spark.operators.dedup import band_bloom_build, ingest_batch
        from datamunging_spark.operators.pipeline import curate_corpus
        from datamunging_spark.operators.spandedup import span_dedup
        from datamunging_spark.operators.text import gopher_quality_flags
        from datamunging_spark.operators.trainset import decontaminate
        from datamunging_spark.operators.retrieval import (
            advance_index, combine_index_stats, index_stats, term_stats)
        from datamunging_spark.operators.similarity import advance_ivf_index
        from datamunging_spark.sources.versioned import (
            read_table_version, write_table_version)

        F = state["F"]
        d = state["inputs"]["dir"]
        b = state["batch"]
        store = state["store"]

        def run():
            if b >= state["inputs"]["facts"]["batches"]:
                raise RuntimeError("ran out of generated ingest batches")
            batch = spark.read.parquet(os.path.join(d, f"batch-{b}", "docs"))
            # curate the crawl batch before it reaches the index: quality
            # gates, boilerplate paragraphs, PII, shared spans, eval leakage
            flags = tr.call("text", gopher_quality_flags, batch)
            kept = flags.filter("quality_pass").select("doc_id", "text")
            cur = tr.call("pipeline", curate_corpus, kept, fuzzy=False,
                          para_dedup=True, redact=True)
            cur = tr.action("pipeline", lambda: cur.localCheckpoint())
            cut = tr.call("spandedup", span_dedup, cur)
            clean = tr.call("trainset", decontaminate, cut, state["bench"])
            clean = tr.action("trainset", lambda: clean.localCheckpoint())
            surv, snaps = tr.call("dedup", ingest_batch, clean, state["snaps"],
                                  threshold=0.5, band_bloom=state["bloom"])
            surv = tr.action("dedup", lambda: surv.localCheckpoint())
            ids = [r["doc_id"] for r in surv.select("doc_id").collect()]
            inc_sig = snaps.signatures.join(surv.select("doc_id"), "doc_id", "semi")
            inc = tr.call("dedup", band_bloom_build, inc_sig, num_items=state["n_cap"])
            bloom = tr.call("bloom", bloom_or, state["bloom"], inc, release_inputs=True)
            post = tr.call("retrieval", advance_index, state["post"], surv)
            v = state["version"] + 1
            tr.action("versioned", lambda: write_table_version(
                post, store + "/postings", v))
            post = tr.call("versioned", read_table_version, spark,
                           store + "/postings", v)
            stats = tr.call("retrieval", combine_index_stats, state["stats"],
                            tr.call("retrieval", index_stats, surv))
            dfreq = tr.call("retrieval", term_stats, post)
            stats, dfreq = tr.action(
                "retrieval", lambda: (stats.localCheckpoint(), dfreq.localCheckpoint()))
            bvec = spark.read.parquet(os.path.join(d, f"batch-{b}", "vecs")).join(
                surv.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi")
            ivf = tr.call("similarity", advance_ivf_index, state["ivf"], bvec)
            ivf.assigned = tr.action("similarity", lambda: ivf.assigned.localCheckpoint())
            state.update(post=post, stats=stats, dfreq=dfreq, snaps=snaps,
                         bloom=bloom, ivf=ivf, version=v,
                         docs=state["docs"].unionByName(surv.select("doc_id", "text")))
            state["ingested"] += ids
            return ids

        ids = timer.run("ingest", "ingest", run)
        state["batch"] += 1
        if ids is not None and not self._ingest_ok(state, b, set(ids)):
            timer.fail("ingest")

    def _ingest_ok(self, state, b: int, survivors: set) -> bool:
        """Planted duplicates completed by this batch are gone, every
        plain doc survives, junk and contaminated docs never get in. Also
        records the near-duplicate recall."""
        facts = state["inputs"]["facts"]
        batch = set(facts["batch_ids"][b])
        seen = set(facts["base_ids"]).union(*map(set, facts["batch_ids"][:b + 1]))
        indexed = set(facts["base_ids"]) | set(state["ingested"])
        def arrived(pairs):  # pairs completed by this batch
            return [p for p in pairs if set(p) <= seen and set(p) & batch]

        near = arrived(facts["near_pairs"])
        state["near_removed"] += sum(not set(p) <= indexed for p in near)
        state["near_seen"] += len(near)
        return (
            not any(set(p) <= indexed for p in arrived(facts["exact_pairs"]))
            and batch & set(facts["plain"]) <= survivors
            and not survivors & set(facts["dropped"]))


WORKLOADS = {
    "reference_features": ReferenceFeatures,
    "search_ingest": SearchIngest,
}
