"""Generate PLAN_AUDIT.md: physical-plan shape accounting for every bench
query at sf0.01.

For each headline query this prints the number of Exchange (shuffle) nodes,
BroadcastExchange nodes, whether any CartesianProduct appears, and the
whole-stage-codegen span count — the four numbers that summarize whether a
plan would survive a 100x scale-up (shuffles bounded, small sides
broadcast, no quadratic join, hot path codegen'd). Counts come from the
pre-AQE physical plan (AQE can only COALESCE/replace exchanges at runtime,
so these are upper bounds).

Queries that materialize eagerly during construction (localCheckpoint
composites) execute their checkpoint actions here; the audit is still
plan-only for the returned frame.

Usage: python tools/audit_plans.py [sf_dir]  (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import BENCH_QUERIES
from datamunging_spark import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


from datamunging_spark.plans import (  # noqa: E402
    executed_plan_rows,
    plan_summary as audit,
)


class _CheckpointAudit:
    """Context manager hooking DataFrame.localCheckpoint so each EAGER
    materialization a query runs during construction is plan-summarized
    BEFORE it executes — the r8 fix for checkpointed composites
    (x1_ingest_cycle etc.) reporting 0 shuffles because the returned
    frame's plan starts at the checkpointed intermediates. Per-stage
    counts are summed with the final frame's; each stage's plan
    terminates at the PREVIOUS checkpoints' scans, so stages don't
    re-count upstream work (branches sharing a pre-checkpoint lineage
    can still double-count — upper bound, as documented)."""

    def __init__(self):
        self.stages: list[dict] = []
        self.stage_rows: list[dict] = []

    @staticmethod
    def _target():
        # Spark 4: concrete frames are pyspark.sql.classic.dataframe.
        # DataFrame, which OVERRIDES localCheckpoint — patching the
        # abstract pyspark.sql.DataFrame base would never be hit.
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:  # pre-4 layout
            from pyspark.sql import DataFrame
        return DataFrame

    def __enter__(self):
        cls = self._target()
        self._orig = cls.localCheckpoint
        hook_self = self

        def hooked(df_self, *args, **kwargs):
            hook_self.stages.append(audit(df_self))
            ret = hook_self._orig(df_self, *args, **kwargs)
            # the eager checkpoint just EXECUTED df_self's plan — read
            # its runtime shuffle/scan row metrics without re-running
            hook_self.stage_rows.append(
                executed_plan_rows(df_self, execute=False)
            )
            return ret

        cls.localCheckpoint = hooked
        return self

    def __exit__(self, *exc):
        self._target().localCheckpoint = self._orig
        return False


# Why a measured C/M-class exchange is acceptable (or what its scale
# story is). Keyed by query name; regenerating PLAN_AUDIT.md re-emits
# these, so the audit stays idempotent. Populated from the first
# measured run (r11) — keep entries honest: a C on a corpus table is
# fine ONLY when the operator's contract requires that exchange (a
# global dedup must hash-partition the corpus once; a sort-based sink
# must range-partition it) and the row count shrinks monotonically
# downstream.
_JUSTIFY: dict[str, str] = {
    # NB on reading C/M at sf0.01: the ratio is a GROWTH PROXY (rows
    # proportional to the corpus scan), not a byte measure — several
    # entries below are C/M only because a contract-BOUNDED constant
    # (k·probes, k-capped vocab, partitions×(k+2) sketch rows) exceeds
    # 5% of a 500-row corpus. Each note says which case it is.
    "window_topk": "per-key window: ONE hash exchange of slim order "
    "rows by the window key is the operator's contract; AQE coalesced "
    "to 4.5k candidate rows here.",
    "x1_simhash": "banded fingerprint equi-join: rows = docs × bands "
    "(~54/doc), SLIM (hash,id) pairs — the 'only fp tables move' "
    "design; bytes ≪ text payload.",
    "x1_ngram_jaccard": "gram-key equi-join: fp rows = docs × grams, "
    "slim hashes; same fp-table class as simhash.",
    "x1_span_dedup": "winnowing fp equi-join + pair-local extension: "
    "max exchange 9.7k fp rows vs 10.1k-row corpus scan, but rows are "
    "(fp,id) hashes — text is fetched per-candidate only.",
    "x1_incremental_span": "the r9-flagged composite, now MEASURED: 22 "
    "runtime exchanges, max 2,074 rows — every one fp/summary-sized "
    "(batch fps, snapshot advance deltas, candidate ids); the "
    "corpus-text table never shuffles. Retired to documented floor "
    "(SCALE.md r11 phase attribution).",
    "x2_topk_cosine": "bounded-by-contract result rows (k × probes = "
    "25): constant, not corpus-proportional — tiny-corpus ratio "
    "artifact.",
    "x2_ann_lsh": "bucketed candidate join: rows ≤ probes × tables × "
    "bucket cap (1.6k) — valve-bounded constant, not corpus growth.",
    "x2_ann_ivf": "k × probes result rows (25) — constant by contract.",
    "x2_pq_topk": "ADC distance-table rows (constant per probe).",
    "r33_tfidf": "(doc, term) postings aggregate: term-stat counting "
    "is relational by design; slim token rows, partial-agg collapsed.",
    "sessionize_events": "ONE hash exchange of events by user is "
    "sessionization's contract (gap windowing needs per-user "
    "co-location); rows are slim event keys.",
    "asof_join": "range-bucket replicas (span/width+1 per interval) — "
    "the documented banded shape; 4k rows on a 10k scan.",
    "x_curation_full": "dedup composite: md5 content keys + band "
    "signatures (≤ docs rows each, slim) — the exchanges ARE the "
    "dedup keys, never the text.",
    "x5_decontaminate": "corpus gram postings vs broadcast benchmark "
    "grams: gram rows are slim hashes, linear in tokens; the probe "
    "side is the broadcast.",
    "x5_train_shuffle": "the range exchange IS the operator "
    "(deterministic training shuffle must move every row exactly "
    "once) — contract.",
    "x5_pack_sequences": "hash-group exchange of SLIM (id, n_tokens) "
    "pairs — the payload never moves (docstring contract).",
    "x5_token_budget": "two-pass distributed prefix sum exchanges the "
    "slim (order, tokens) projection only — payload untouched.",
    "x5_dsir_select": "feature-bucket aggregates: gram rows are slim "
    "md5-prefix strings, linear in tokens, partial-agg collapsed to "
    "≤ 16^hash_chars buckets; the scoring join broadcasts the "
    "bucket-bounded ratio table; top-k is TakeOrdered (no sort "
    "exchange).",
    "x5_packed_windows": "windows must physically co-locate per bin, "
    "so the member join + bin concat move the id ARRAYS once each — "
    "the operator's contract (SCALE.md shuffle row); the packing pass "
    "itself exchanges only slim (id, size) pairs.",
    "x1_paragraph_dedup": "paragraph-hash key rows (slim md5), ≤ "
    "paragraph count.",
    "x1_incremental_dedup": "band-signature rows (docs × bands, slim "
    "hashes; 21.8k on 500 docs) + summary-sized snapshot advance; "
    "history participates exchange-free by design.",
    "x1_ingest_cycle": "same plan as x1_incremental_dedup + "
    "roll-forward — same fp-table classes.",
    "x1_url_dedup": "url key rows (slim strings), ≤ docs.",
    "x1_minhash_portable": "banded md5-signature equi-join: rows = "
    "docs × bands, slim 32-hex strings (2× the xxhash64 tier's "
    "bytes/slot — the documented portable-mode cost); text never "
    "shuffles, same fp-table class as x1_simhash.",
    "x3_phash_neardup": "banded 8-byte dHash equi-join (simhash_pairs "
    "machinery): rows = docs × 4 bands of (id, 16-bit chunk) pairs — "
    "SELECTIVE keys (the r12 review killed a 16-band/4-bit variant "
    "that degenerated toward all-pairs); the binary payload column "
    "stays inside its scan tasks (plan-asserted in tests) — the "
    "multimodal 'fp tables move, media doesn't' shape.",
    "x3_incremental_phash": "history participates as its (id, 8-byte "
    "hash) snapshot only — banded history×batch equi-join on 16-bit "
    "chunk keys, hamming verify on the tiny candidate set, batch "
    "payloads never shuffle; the incremental family's slimmest "
    "snapshot.",
    "x5_split_shuffle": "split is a zero-shuffle md5 projection; the "
    "training-shuffle half's ONE range exchange of the corpus is the "
    "operator's contract (a global permutation must move every row "
    "exactly once).",
    "x2_bm25_hybrid": "index build = the family's one corpus-grain "
    "exchange, partial-agg collapsed to (term, doc) postings (paid "
    "once at build time — a persisted table in real use; rebuilt "
    "inline here); query time the postings scan flows into a "
    "BROADCAST join (plan-asserted: nothing repartitions by term), "
    "and the score/window/fusion exchanges are matched-postings / "
    "top-k sized.",
    "x2_boolean": "same family shape as x2_bm25_hybrid: one corpus "
    "exchange is the inline index build (persisted table in real "
    "use); the three boolean roles ride ONE pushed term IN postings "
    "scan as plan literals, and the one (query, doc) aggregate "
    "(score, must/should counts, exclusion) and the window exchanges "
    "are matched-postings / top-k sized.",
    "x2_bm25f": "same family shape as x2_bm25_hybrid with field "
    "grain: the C exchanges are the inline FIELDED index build "
    "(title+body postings — persisted table in real use) and the "
    "on-the-fly doc-grain df it feeds; the M exchange is the "
    "per-(query, doc, term) field fold, matched-postings sized "
    "(corpus-proportional here only via the ~31-word synthetic "
    "vocabulary, the x2_bm25_persisted note); the query side rides "
    "the plan as literals (no join) and the S exchanges are top-k "
    "windows.",
    "x2_bm25_persisted": "the PROOF row for the family's scale claim: "
    "C:0 — the build exchange is GONE (postings/dfreq/stats read from "
    "materialized parquet); the one M exchange is the matched-postings "
    "score aggregate, rows = Σ df(query terms) — slim (term, doc, tf, "
    "len) rows, corpus-proportional here only because the synthetic "
    "~31-word vocabulary makes 8 queries' terms cover a third of all "
    "postings; on a real vocabulary this is the df-bounded slice the "
    "max_df_frac valve caps. Remaining S exchanges are top-k windows.",
    "x2_ivf_advance": "the ONE runtime exchange is the search-side "
    "top-k window input — WindowGroupLimit-Partial pre-cut candidate "
    "rows hashed by query_id (396 = 8 queries × per-partition k caps, "
    "contract-bounded, not corpus-proportional — the x2_topk_cosine "
    "tiny-corpus ratio artifact); the advance itself exchanges "
    "NOTHING (frozen-centroid Arrow assignment is a map, the drift "
    "check is a 1-row aggregate, history lists ride the persisted "
    "parquet scan into a broadcast probe-cell join).",
    "x2_hybrid_snippets": "the full serve path inherits "
    "x2_bm25_persisted's C:0 (persisted postings — no build "
    "exchange); the two M exchanges are the matched-postings score "
    "aggregate (the persisted row's Σ df(query terms) note) and the "
    "hit_windows window fold AFTER the postings scan is cut to the "
    "top-k hit-doc list by a broadcast join — hits-sized by "
    "construction; the S exchanges are RRF/top-k windows and the "
    "snippet display join on ≤ queries × k doc ids.",
    "x1_span_portable": "winnowed fp equi-join, valve OFF (parity "
    "configuration, every anchor visible — the x1_ngram_jaccard "
    "precedent): exchanges are slim (id, fp, pos) rows ≈ 6% of corpus "
    "chars; the scale configuration (valves on) is the x1_span_dedup "
    "bench slot.",
    "x4_gopher_gates": "(doc, line/gram) postings aggregates: per-doc "
    "distinct-gram counting is deliberately relational (docstring: "
    "the never-quadratic shape; a per-row HOF loop would be O(g²)); "
    "rows are slim gram hashes, linear in tokens, partial-agg "
    "collapsed — 77.5k gram rows ≈ 155/doc.",
    "x4_doc_quality": "composes gopher + LM suites — union of their "
    "postings/term exchanges; same slim-token-row class.",
    "x4_bigram_lm": "bigram postings + per-language term tables — "
    "slim token rows, linear; corpus totals ride 1-row broadcasts.",
    "x4_lm_quality": "unigram term postings — same class.",
    "x4_census": "group-count by (lang, source): one partial-agg "
    "exchange of ≤ docs slim key rows — plain grouped aggregation.",
    "x4_vocab": "k-capped vocabulary rows (31) — constant by contract.",
    "x1_semantic_dedup": "embedding-vector rows to KMeans fit (capped "
    "sample) + cell assignments: the vectors ARE this operator's "
    "corpus; within-cell-only joins keep it sub-quadratic; fit "
    "amortizable.",
    "gap_fill": "range exchange sized by the OUTPUT grid (14.6k) — "
    "gap-fill's floor is its output size (SCALE.md).",
    "x6_entity_resolution": "blocking keys + sorted-neighborhood "
    "range exchange of slim attribute rows — co-location is the "
    "blocking contract.",
    "x6_er_pipeline": "full ER composite: blocking/SNM/survivorship "
    "stages each exchange slim key/attr rows once (3k max on 3k "
    "scan).",
    "x6_snapshot_history": "SCD-2 build: version×key slim rows (4.5k "
    "= 3 versions × 1.5k keys) — history table construction must "
    "co-locate by key.",
    "x6_scd2_apply": "CDC merge exchanges key rows once — merge "
    "contract.",
    "x6_extract_changelog": "snapshot diff joins by key (1.5k slim "
    "rows) — contract.",
    "x7_event_suite": "funnel/retention per-user slim rows, one "
    "shuffle each by design (749 max).",
    "x8_heavy_hitters": "summary rows ≤ partitions × (k+2) — "
    "constant-bounded sketch state, read once by the report's "
    "window; ratio artifact.",
    "x8_distinct_users": "per-key HLL sketch rows (750) — "
    "summary-sized by construction.",
    "x8_grouped_sketch": "per-key summary rows (keys × (k+2) / "
    "one KLL sketch per key), the heavy-hitter report a window "
    "partitioned by key, + report-sized recount probes — "
    "summary-sized by construction.",
    "x1_strip_boilerplate": "mined template/fp rows (195 max) — "
    "report-sized.",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    lines = [
        "# PLAN_AUDIT — physical-plan shape of every bench query "
        f"(generated by tools/audit_plans.py at {sf_dir})",
        "",
        "Exchanges = shuffle nodes in the pre-AQE plan (upper bound — AQE",
        "coalesces/replaces at runtime); broadcast-nested-loop counts as",
        "'cartesian-class' and is acceptable ONLY for documented bounded",
        "probe sides (brute-force top-k probes, 1-row broadcast counts,",
        "broadcast pattern sets: x1_embedding_neardup, x2_topk_cosine,",
        "r33_tfidf's + x4_lm_quality's + x4_bigram_lm's 1-row corpus",
        "totals (the unigram_lm_fit subplan), and",
        "x5_decontaminate's capped substring-probe anti-join,",
        "x8_quantiles' |qs|-row recount probe,",
        "and x1_strip_boilerplate's 1-row corpus-count broadcast +",
        "max_templates-bounded template verify/strip broadcasts).",
        "Composites that materialize eagerly during construction",
        "(localCheckpoint stages) are audited PER STAGE (r8): every",
        "localCheckpoint a query runs is plan-summarized before it",
        "executes and summed with the returned frame's plan — the",
        "'shuffles'/'broadcasts' columns show final+stages totals and",
        "the 'ckpt stages' column how many eager stages contributed",
        "(each stage's plan terminates at prior checkpoints' scans, so",
        "stages don't re-count upstream work; branches sharing a",
        "pre-checkpoint lineage can double-count — upper bound).",
        "Cartesian-class includes stage plans.",
        "",
        "**rows-class (r11, MEASURED)**: each query is executed at this",
        "sf and every runtime ShuffleExchange's `shuffle records",
        "written` metric is read off the AQE-finalized plan (checkpoint",
        "stages included), then classified against the query's own",
        "largest scan row count ('corpus' = the biggest base-table /",
        "checkpoint scan the query performed): **C** ≥ 50% of corpus,",
        "**M** ≥ 5%, **S** below (summary/fingerprint-sized). The",
        "column shows `C:n M:n S:n` plus the corpus size and the",
        "largest single exchange — so the central 100 TB claim",
        "('composites shuffle only fp/summary tables') is auditable",
        "per exchange from measurement, not assertion. Runtime exchange",
        "count can sit below the static column (AQE reuse/coalesce;",
        "reused exchanges counted once where they materialized).",
        "Caveat: the ratio is a GROWTH PROXY (row-proportionality to",
        "the corpus), not a byte measure — at sf0.01 a contract-bounded",
        "constant (k·probes, sketch summaries) can exceed 5% of a",
        "500-row corpus and read as C/M, and slim fingerprint tables",
        "(docs × bands hashes) are corpus-LINEAR by design while",
        "carrying a small fraction of the bytes. Every C/M entry is",
        "therefore justified below the table, saying which case it is.",
        "",
        "| query | shuffles | broadcasts | cartesian-class | ckpt stages"
        " | rows-class (measured) |",
        "|---|---|---|---|---|---|",
    ]
    corpus_heavy: list[tuple[str, str]] = []
    for name in BENCH_QUERIES:
        fn = qs.get(name) or getattr(entrymod, f"q_{name}")
        try:
            with _CheckpointAudit() as ck:
                frame = fn(spark, sf_dir)
                a = audit(frame)
                rows = executed_plan_rows(frame)
            ex = a["exchanges"] + sum(s["exchanges"] for s in ck.stages)
            bc = a["broadcasts"] + sum(s["broadcasts"] for s in ck.stages)
            cart = a["cartesian"] or any(s["cartesian"] for s in ck.stages)
            flag = "YES" if cart else "—"
            n_st = len(ck.stages)
            st = f"{n_st}" if n_st else "—"
            shuf = rows["shuffle_rows"] + [
                r for s in ck.stage_rows for r in s["shuffle_rows"]
            ]
            scans = rows["scan_rows"] + [
                r for s in ck.stage_rows for r in s["scan_rows"]
            ]
            corpus = max(scans, default=0)
            cls = {"C": 0, "M": 0, "S": 0}
            for r in shuf:
                if corpus and r >= 0.5 * corpus:
                    cls["C"] += 1
                elif corpus and r >= 0.05 * corpus:
                    cls["M"] += 1
                else:
                    cls["S"] += 1
            biggest = max(shuf, default=0)
            rc = (
                f"C:{cls['C']} M:{cls['M']} S:{cls['S']} "
                f"(corpus={corpus}, max_exch={biggest})"
            )
            if cls["C"] or cls["M"]:
                corpus_heavy.append((name, rc))
            lines.append(
                f"| {name} | {ex} | {bc} | {flag} | {st} | {rc} |"
            )
        except Exception as e:  # noqa: BLE001 — audit must not die mid-table
            lines.append(f"| {name} | audit error: {str(e)[:60]} | | | | |")
    lines += [
        "",
        "## C/M-class exchanges — measured list with justifications",
        "",
        "Queries whose runtime plan moved at least one corpus- or",
        "mid-sized exchange. Each carries its justification (kept in",
        "tools/audit_plans.py `_JUSTIFY`, so regeneration is",
        "idempotent); an UNJUSTIFIED entry is a finding to fix.",
        "",
    ]
    for n, rc in corpus_heavy:
        j = _JUSTIFY.get(n, "UNJUSTIFIED — investigate")
        lines.append(f"- **{n}** {rc} — {j}")
    out = os.path.join(REPO, "PLAN_AUDIT.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(BENCH_QUERIES)} queries)")


if __name__ == "__main__":
    main()
