"""Continuous-ingest tour: the streaming faces of the engine on one
synthetic event/doc feed (~60 s on local[*]): micro-batched doc ingest
with exact+fuzzy dedup against rolling snapshots → Bloom-prefiltered
re-crawl → streaming continuous-aggregate rollup into the versioned
store → streaming CDC materialization → streaming entity resolution
with bounded history. Every loop here is the replay-safe foreachBatch
pattern the batch operators share implementations with.

Run:  python examples/continuous_ingest_demo.py [workdir]
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datamunging_spark import get_spark
from datamunging_spark.operators.bloom import bloom_build
from datamunging_spark.operators.dedup import (
    content_snapshot,
    incremental_dedup,
)
from datamunging_spark.operators.entity import name_similarity
from datamunging_spark.sources.versioned import read_table_version
from datamunging_spark.streaming import (
    streaming_ingest,
    streaming_resolve,
    streaming_rollup,
)


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp()
    spark = get_spark("continuous_ingest_demo")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. doc feed: two micro-batches, batch 2 partially repeating batch 1
    doc_src = f"{workdir}/doc_feed"
    os.makedirs(doc_src, exist_ok=True)
    base = [(i, f"document body number {i} with unique words {i*7}") for i in range(20)]
    repeat = base[:8] + [(100 + i, f"fresh crawl page {i}") for i in range(12)]
    for n, rows in (("b1", base), ("b2", repeat)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(f"{doc_src}/{n}")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(doc_src + "/*")
    )
    streaming_ingest(
        stream,
        survivors_path=f"{workdir}/survivors",
        checkpoint_path=f"{workdir}/ingest_ckpt",
        snapshots_path=f"{workdir}/snapshots",
    )  # returned snapshots also persisted under snapshots_path
    survivors = spark.read.parquet(f"{workdir}/survivors")
    print(
        f"streaming ingest: 40 fed rows -> {survivors.count()} survivors "
        "(batch-2 repeats caught across micro-batches)"
    )

    # 2. Bloom-prefiltered re-crawl of the whole feed against the state
    snap = content_snapshot(survivors).localCheckpoint()
    bloom = bloom_build(snap, ["content_hash"])
    recrawl = spark.read.parquet(doc_src + "/*").withColumn(
        "doc_id", F.col("doc_id") + 10_000
    )
    fresh = incremental_dedup(recrawl, snap, bloom=bloom)
    print(f"bloom-prefiltered re-crawl: {recrawl.count()} -> {fresh.count()} new")

    # 3. streaming continuous aggregate: hourly event rollup, versioned
    ev_src = f"{workdir}/event_feed"
    os.makedirs(ev_src, exist_ok=True)
    for n, hours in (("e1", range(0, 5)), ("e2", range(3, 9))):
        rows = [
            (dt.datetime(2024, 1, 1, h, 30), "click", float(h)) for h in hours
        ]
        spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        ).coalesce(1).write.parquet(f"{ev_src}/{n}")
    ev_stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(ev_src + "/*")
    )
    v = streaming_rollup(
        ev_stream,
        f"{workdir}/rollup",
        "ts",
        "1 hour",
        {"n": ("count",), "total": ("sum", "value")},
        keys=["event_type"],
        checkpoint_path=f"{workdir}/rollup_ckpt",
    )
    rollup = read_table_version(spark, f"{workdir}/rollup")
    print(
        f"streaming rollup: v{v} committed, {rollup.count()} bucket rows, "
        f"grand total {rollup.agg(F.sum('n')).first()[0]} events"
    )

    # 4. streaming entity resolution with bounded, versioned history
    er_src = f"{workdir}/er_feed"
    os.makedirs(er_src, exist_ok=True)
    spark.createDataFrame(
        [(1, "ACME Corp", "111")], ["id", "name", "zip"]
    ).coalesce(1).write.parquet(f"{er_src}/f1")
    spark.createDataFrame(
        [(2, "ACME Corps", "111"), (3, "Fresh Co", "999")],
        ["id", "name", "zip"],
    ).coalesce(1).write.parquet(f"{er_src}/f2")
    er_stream = (
        spark.readStream.schema("id long, name string, zip string")
        .option("maxFilesPerTrigger", 1)
        .parquet(er_src + "/*")
    )
    seed = spark.createDataFrame(
        [(0, "Widget LLC", "222", 0)], ["id", "name", "zip", "entity_id"]
    )
    hist = streaming_resolve(
        er_stream,
        seed,
        "id",
        F.col("zip"),
        ["name"],
        name_similarity("a_name", "b_name") >= 0.85,
        checkpoint_path=f"{workdir}/er_ckpt",
        history_path=f"{workdir}/er_hist",
    )
    ents = {r["id"]: r["entity_id"] for r in hist.collect()}
    print(
        f"streaming ER: {len(ents)} historied records; "
        f"record 2 adopted entity {ents[2]} across micro-batches"
    )

    # 5. streaming heavy hitters: which domains dominate the crawl feed,
    # maintained as a bounded Misra-Gries summary across micro-batches
    from datamunging_spark.operators.sketch import hh_report
    from datamunging_spark.streaming import streaming_heavy_hitters

    hh_src = f"{workdir}/domain_feed"
    os.makedirs(hh_src, exist_ok=True)
    for n, dom in (("h1", "common.example"), ("h2", "big.example")):
        rows = [(dom,)] * 40 + [(f"rare{n}{j}.example",) for j in range(60)]
        spark.createDataFrame(rows, "domain string").coalesce(
            1
        ).write.parquet(f"{hh_src}/{n}")
    hh_stream = (
        spark.readStream.schema("domain string")
        .option("maxFilesPerTrigger", 1)
        .parquet(hh_src + "/*")
    )
    hv = streaming_heavy_hitters(
        hh_stream,
        "domain",
        f"{workdir}/hh_table",
        k=32,
        checkpoint_path=f"{workdir}/hh_ckpt",
    )
    rep = hh_report(
        read_table_version(spark, f"{workdir}/hh_table"), min_share=0.1
    )
    tops = sorted(
        (r.value, r.count_lo, r.count_hi) for r in rep.collect()
    )
    print(
        f"streaming heavy hitters: v{hv} committed; dominant domains "
        f"(count brackets) {tops}"
    )

    # 6. streaming distinct counts: unique visitors per domain as
    # mergeable per-key HLL state (estimate-lossless folds — batch 2
    # re-sees half of batch 1's visitors and the union doesn't double
    # count them)
    from datamunging_spark.operators.sketch import distinct_estimate
    from datamunging_spark.streaming import streaming_distinct_counts

    dc_src = f"{workdir}/visit_feed"
    os.makedirs(dc_src, exist_ok=True)
    for n, lo in (("v1", 0), ("v2", 100)):  # 100-visitor overlap
        rows = [("big.example", f"user{u}") for u in range(lo, lo + 200)]
        spark.createDataFrame(rows, "domain string, visitor string").coalesce(
            1
        ).write.parquet(f"{dc_src}/{n}")
    dc_stream = (
        spark.readStream.schema("domain string, visitor string")
        .option("maxFilesPerTrigger", 1)
        .parquet(dc_src + "/*")
    )
    dv = streaming_distinct_counts(
        dc_stream, ["domain"], "visitor",
        f"{workdir}/dc_table", checkpoint_path=f"{workdir}/dc_ckpt",
    )
    est = distinct_estimate(
        read_table_version(spark, f"{workdir}/dc_table"), ["domain"]
    ).first()
    print(
        f"streaming distinct counts: v{dv} committed; "
        f"{est.domain} ≈ {est.distinct_est} unique visitors "
        f"(true 300 across two overlapping micro-batches)"
    )

    # 7. streaming quantiles: the feed's latency profile as a mergeable
    # KLL sketch — p50/p99 over the whole stream so far, with the rank
    # error bound (99% confidence; 0 while n <= k) printed next to them
    from datamunging_spark.operators.sketch import quantile_report
    from datamunging_spark.streaming import streaming_quantiles

    qt_src = f"{workdir}/latency_feed"
    os.makedirs(qt_src, exist_ok=True)
    for n, base in (("l1", 10.0), ("l2", 50.0)):
        rows = [(base + (i % 100) / 10.0,) for i in range(500)]
        spark.createDataFrame(rows, "ms double").coalesce(1).write.parquet(
            f"{qt_src}/{n}"
        )
    qt_stream = (
        spark.readStream.schema("ms double")
        .option("maxFilesPerTrigger", 1)
        .parquet(qt_src + "/*")
    )
    qv = streaming_quantiles(
        qt_stream, "ms", f"{workdir}/qt_table",
        k=64, checkpoint_path=f"{workdir}/qt_ckpt",
    )
    qrep = {
        r.q: r
        for r in quantile_report(
            read_table_version(spark, f"{workdir}/qt_table"), [0.5, 0.99]
        ).collect()
    }
    print(
        f"streaming quantiles: v{qv} committed; stream-so-far "
        f"p50={qrep[0.5].value} p99={qrep[0.99].value} "
        f"(±{qrep[0.5].max_rank_err} ranks of {qrep[0.5].n_total})"
    )
    # -- streaming MEDIA ingest (r12): image near-dups caught across
    # micro-batches against the rolled-forward dHash snapshot (history
    # participates as (id, 8 bytes)/image — payloads never rescanned)
    from datamunging_spark.streaming import streaming_phash_ingest

    media_src = f"{workdir}/media_src"
    os.makedirs(media_src, exist_ok=True)
    base_img = bytes((7 * i) % 256 for i in range(400))
    drop1 = [(1, base_img), (2, bytes(reversed(base_img)))]
    near = bytearray(base_img)
    near[13] = (near[13] + 90) % 256  # in-place edit: a re-encoded copy
    drop2 = [(10, bytes(near)), (11, bytes((11 * i) % 256 for i in range(400)))]
    for n, rows in (("d1", drop1), ("d2", drop2)):
        spark.createDataFrame(
            rows, "doc_id long, payload binary"
        ).coalesce(1).write.parquet(f"{media_src}/{n}")
    media_stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(media_src + "/*")
    )
    snap = streaming_phash_ingest(
        media_stream,
        survivors_path=f"{workdir}/media_survivors",
        checkpoint_path=f"{workdir}/media_ckpt",
        snapshot_path=f"{workdir}/media_snap",
    )
    kept = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{workdir}/media_survivors").collect()
    )
    print(
        f"streaming media ingest: {kept} kept of 4 "
        f"(cross-batch image near-dup folded); hash snapshot rows: "
        f"{snap.count()}"
    )
    print(f"done; state under {workdir}")
    spark.stop()


if __name__ == "__main__":
    main()
