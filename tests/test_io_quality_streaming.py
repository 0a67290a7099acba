"""Sources/sinks (R1-R6), quality reports, and the streaming surface."""

import pytest
import glob
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from datamunging_spark.operators.quality import (
    invalid_value_report,
    not_empty_rule,
    regex_rule,
    validation_summary,
)
from datamunging_spark.sources import (
    local_table,
    materialize_columnar,
    read_csv,
    read_lines,
    write_csv,
)
from datamunging_spark.streaming import (
    read_event_stream,
    run_stream_to_memory,
    running_user_totals,
    windowed_counts,
)


def test_csv_roundtrip_with_quotes(spark, tmp_path):
    """R1/R5: quote-aware CSV parsing (the reference's misalignment trap,
    README.md:203-211)."""
    schema = StructType(
        [
            StructField("npi", StringType()),
            StructField("descr", StringType()),
            StructField("cnt", IntegerType()),
        ]
    )
    src = spark.createDataFrame(
        [("1", 'smear; obtaining, preparing "x"', 13), ("", "plain", None)],
        schema,
    )
    p = str(tmp_path / "csv")
    write_csv(src, p)
    back = read_csv(spark, p, schema)
    rows = sorted(
        [tuple(r) for r in back.select("npi", "descr", "cnt").collect()],
        key=str,
    )
    assert ("1", 'smear; obtaining, preparing "x"', 13) in rows


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tables, tmp_path):
    """JSONL source/sink: declared-schema roundtrip preserves values (incl.
    NULLs and unicode), missing keys read as NULL, and a malformed line is
    quarantined into _corrupt_record instead of failing the read."""
    from pyspark.sql.types import LongType
    from datamunging_spark.sources.io import read_jsonl, write_jsonl

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("source", StringType()),
        ]
    )
    docs = tables["documents"].select("doc_id", "text", "source").limit(50)
    p = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, p)
    back = read_jsonl(spark, p, schema).select("doc_id", "text", "source")
    assert back.exceptAll(docs).count() == 0 and docs.exceptAll(back).count() == 0

    # hand-written shard: valid line, missing-key line, corrupt line
    raw = tmp_path / "dirty"
    raw.mkdir()
    (raw / "part-0.jsonl").write_text(
        '{"doc_id": 1, "text": "héllo wörld", "source": "web"}\n'
        '{"doc_id": 2}\n'
        '{"doc_id": 3, "text": "unterminated\n'
    )
    dirty_schema = StructType(
        schema.fields + [StructField("_corrupt_record", StringType())]
    )
    # localCheckpoint: Spark refuses corrupt-column-only queries straight
    # off a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize
    # the parsed result first, as its own error message prescribes.
    dirty = read_jsonl(spark, str(raw), dirty_schema).localCheckpoint()
    good = dirty.filter(F.col("_corrupt_record").isNull())
    bad = dirty.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert good.filter(F.col("doc_id") == 2).collect()[0]["text"] is None
    assert good.filter(F.col("doc_id") == 1).collect()[0]["text"] == "héllo wörld"


def test_materialize_columnar(spark, tables, tmp_path):
    p = str(tmp_path / "pq")
    materialize_columnar(tables["nation"], p)
    assert spark.read.parquet(p).count() == 25


def test_materialize_columnar_orc(spark, tables, tmp_path):
    """R3 exact parity option: ORC+zlib, the reference's storage choice
    (README.md:111-117)."""
    p = str(tmp_path / "orc")
    materialize_columnar(tables["nation"], p, compression="zlib", fmt="orc")
    back = spark.read.orc(p)
    assert back.count() == 25
    assert set(back.columns) == set(tables["nation"].columns)


def test_read_lines(spark, tmp_path):
    f = tmp_path / "lines.txt"
    f.write_text("a\nb\nc\n")
    assert read_lines(spark, str(f)).count() == 3


def test_write_sorted_parquet_clusters_ranges(spark, tables, tmp_path):
    """Range-partitioned sorted write: files are disjointly range-clustered
    on the sort key (row-group stats then enable skipping)."""
    from datamunging_spark.sources.io import write_sorted_parquet

    p = str(tmp_path / "sorted")
    write_sorted_parquet(tables["orders"], p, ["o_orderdate"], num_partitions=4)
    back = spark.read.parquet(p)
    assert back.count() == tables["orders"].count()
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
        .collect()
    )
    spans = sorted([(r["lo"], r["hi"]) for r in per_file])
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next  # disjoint (or touching) ranges


def test_grouped_percentiles_approx_close_to_exact(spark):
    """The 100 TB percentile path (percentile_approx sketch) stays within
    its rank-error bound of the exact interpolated value. Dense synthetic
    group: with 1000 distinct values, rank error 1/accuracy ≈ ≤1 value."""
    from datamunging_spark.operators.relational import grouped_percentiles

    df = spark.createDataFrame(
        [(1, float(v)) for v in range(1000)], ["k", "v"]
    )
    exact = grouped_percentiles(
        df, "k", F.col("v"), exact=True
    ).first()["percentiles"]
    approx = grouped_percentiles(
        df, "k", F.col("v"), exact=False, accuracy=10000
    ).first()["percentiles"]
    for e, a in zip(exact, approx):
        assert abs(e - a) <= 1.5, (e, a)


def test_read_whole_files_tokenized(spark, tmp_path):
    """R6/R42 (README.md:297): wholeTextFiles analog — one row per file,
    per-document tokenization via str.split(' ') parity."""
    from datamunging_spark.functions import tokenize
    from datamunging_spark.sources import read_whole_files

    (tmp_path / "a.txt").write_text("alpha beta  gamma")
    (tmp_path / "b.txt").write_text("delta")
    df = read_whole_files(spark, str(tmp_path / "*.txt"))
    rows = {
        r["path"].rsplit("/", 1)[-1]: r["toks"]
        for r in df.select(
            "path", tokenize("value").alias("toks")
        ).collect()
    }
    # Double space -> empty token kept (Python str.split(' ') parity).
    assert rows["a.txt"] == ["alpha", "beta", "", "gamma"]
    assert rows["b.txt"] == ["delta"]


def test_local_table_plans_as_local_scan(spark):
    """r16: driver-local parameter tables must ride the plan as a
    pure-JVM LocalTableScan, not a 32-slice pickled-Python RDD (the
    root cause of x2_boolean's 119 s of executor CPU moving 3 rows)."""
    df = local_table(
        spark,
        [(0, "table row", None, 1.5), (1, None, "spark", None)],
        "id int, a string, b string, x double",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    rows = {tuple(r) for r in df.collect()}
    assert rows == {(0, "table row", None, 1.5), (1, None, "spark", None)}


def test_local_table_value_fidelity_vs_row_path(spark):
    from datetime import date
    from decimal import Decimal

    rows = [
        (1, 2**40, 3.25, Decimal("12.34"), date(2020, 1, 2), [1.0, 2.0]),
        (None, None, None, None, None, None),
    ]
    schema = (
        "i int, l long, d double, m decimal(10,2), dt date, "
        "arr array<double>"
    )
    via_local = local_table(spark, rows, schema).collect()
    via_rows = spark.createDataFrame(rows, schema).collect()
    assert sorted(map(tuple, via_local), key=str) == sorted(
        map(tuple, via_rows), key=str
    )


def test_local_table_empty_and_row_cap(spark):
    empty = local_table(spark, [], "id int, v string")
    assert empty.count() == 0 and empty.columns == ["id", "v"]
    with pytest.raises(ValueError, match="max_local_rows"):
        local_table(spark, [(i,) for i in range(10)], "id int",
                    max_local_rows=5)


def test_catalog_ddl_roundtrip(spark, tables):
    """R2/R4/R6a: CREATE DATABASE / saveAsTable / spark.table / DROP —
    the reference's Hive-metastore workflow (README.md:27-28,70-71,111)
    on the session catalog."""
    spark.sql("CREATE DATABASE IF NOT EXISTS mdb")
    try:
        tables["region"].write.mode("overwrite").saveAsTable("mdb.region_t")
        back = spark.table("mdb.region_t")
        assert back.count() == 5
        assert "region_t" in [t.name for t in spark.catalog.listTables("mdb")]
    finally:
        spark.sql("DROP TABLE IF EXISTS mdb.region_t")
        spark.sql("DROP DATABASE IF EXISTS mdb")


def test_operators_on_empty_input(spark):
    """Edge hygiene: dedup/text/session operators return empty (not error)
    on empty input frames."""
    from datamunging_spark.operators.dedup import (
        minhash_signatures_df,
        simhash_df,
    )
    from datamunging_spark.operators.relational import sessionize
    from datamunging_spark.operators.text import tfidf_scores

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_signatures_df(empty_docs).count() == 0
    assert simhash_df(empty_docs).count() == 0
    assert tfidf_scores(empty_docs).count() == 0
    empty_events = spark.createDataFrame(
        [], "user_id long, ts timestamp, value double"
    )
    assert sessionize(empty_events).count() == 0


def test_dataset_profile_counts(spark):
    from datamunging_spark.operators.quality import dataset_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], ["k", "v"]
    )
    prof = {r["column"]: r for r in dataset_profile(df).collect()}
    assert prof["k"]["n_distinct"] == 2 and prof["k"]["n_nulls"] == 0
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["min_str"] == "a"


def test_quality_rules(spark):
    df = spark.createDataFrame(
        [("99213", "1"), ("bad", "2"), ("", ""), ("Q0091", "3")],
        ["code", "npi"],
    )
    rule = regex_rule("code_fmt", "code", r"(^[A-Z0-9]\d{3}[A-Z0-9]$)")
    bad = invalid_value_report(df, rule, "code")
    assert {r["code"] for r in bad.collect()} == {"bad", ""}
    summary = validation_summary(
        df, [rule, not_empty_rule("npi_set", "npi")]
    ).first()
    assert summary["total_rows"] == 4
    assert summary["code_fmt_failed"] == 2
    assert summary["npi_set_failed"] == 1


def test_streaming_windowed_counts(spark, tables, tmp_path):
    """File-source stream over the events shape → watermarked tumbling
    window; result equals the batch equivalent (stream/batch parity)."""
    stream_dir = str(tmp_path / "stream")
    tables["events"].write.mode("overwrite").parquet(stream_dir)
    # drop spark's _SUCCESS marker dir listing issues by reading the dir
    events = read_event_stream(spark, stream_dir)
    win = windowed_counts(events, window="1 minute", watermark="2 minutes")
    name = run_stream_to_memory(win, "win_counts")
    got = spark.table(name)
    batch = (
        tables["events"]
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # append mode only emits closed windows; check subset consistency
    joined = got.join(
        batch.select(
            F.col("w.start").alias("win_start"),
            "event_type",
            F.col("n_events").alias("batch_n"),
        ),
        ["win_start", "event_type"],
    )
    assert joined.filter(F.col("n_events") != F.col("batch_n")).count() == 0
    assert got.count() > 0


@pytest.mark.slow
def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics: rows arriving later than the watermark behind
    the max seen event time are dropped from closed windows — state stays
    bounded (the 100 TB streaming invariant)."""
    from datetime import datetime

    from datamunging_spark.streaming import EVENTS_SCHEMA

    stream_dir = tmp_path / "late"
    stream_dir.mkdir()

    def batch(path, rows):
        df = spark.createDataFrame(
            [
                (i, datetime.fromisoformat(ts), 1, "click", 1.0, "{}")
                for i, ts in enumerate(rows)
            ],
            EVENTS_SCHEMA,
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(path))

    # One logical query across two runs: the checkpoint carries the
    # watermark forward, so run 2 sees batch-1's max event time.
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run():
        events = read_event_stream(spark, str(stream_dir / "b*"))
        win = windowed_counts(events, window="1 minute", watermark="10 minutes")
        q = (
            win.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # Run 1: events up to 00:30 -> watermark persists at 00:20 in the
    # checkpoint; the closed 00:01 window is emitted.
    batch(stream_dir / "b1", ["2024-01-01 00:01:00", "2024-01-01 00:30:00"])
    run()
    # Run 2 (resumes from checkpoint): one on-time row and one very late row
    # (00:02 < the 00:20 watermark) -> the late row must NOT appear.
    batch(stream_dir / "b2", ["2024-01-01 00:02:00", "2024-01-01 00:31:00"])
    run()
    out = spark.read.parquet(out_dir)
    emitted = {(str(r["win_start"]), r["n_events"]) for r in out.collect()}
    assert ("2024-01-01 00:01:00", 1) in emitted
    assert ("2024-01-01 00:02:00", 1) not in emitted


def test_streaming_sessionize(spark, tables, tmp_path):
    """The same session_window operator runs in Structured Streaming with a
    watermark; closed sessions match the batch sessionize output."""
    from datamunging_spark.operators.relational import sessionize

    stream_dir = str(tmp_path / "sess_stream")
    tables["events"].write.mode("overwrite").parquet(stream_dir)
    events = read_event_stream(spark, stream_dir).withWatermark(
        "ts", "10 minutes"
    )
    stream_sessions = (
        events.groupBy(F.session_window("ts", "5 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("sess_start"),
            F.col("n_events"),
        )
    )
    name = run_stream_to_memory(stream_sessions, "sess_stream_out")
    got = spark.table(name)
    batch = sessionize(tables["events"], gap="5 minutes").select(
        "user_id", "sess_start", F.col("n_events").alias("batch_n")
    )
    # Append mode emits only watermark-closed sessions; all emitted must
    # match batch exactly, and most sessions should have closed.
    joined = got.join(batch, ["user_id", "sess_start"], "left")
    assert joined.filter(
        F.col("batch_n").isNull() | (F.col("n_events") != F.col("batch_n"))
    ).count() == 0
    assert got.count() > 0.5 * batch.count()


def test_stream_stream_join(spark, tables, tmp_path):
    """Stream-stream inner join with watermarks + time-range condition:
    each click joined to same-user purchases within the preceding 10
    minutes. State on both sides is bounded by the watermark."""
    stream_dir = str(tmp_path / "ssj")
    tables["events"].write.mode("overwrite").parquet(stream_dir)

    def src(types):
        return read_event_stream(spark, stream_dir).filter(
            F.col("event_type").isin(types)
        )

    clicks = src(["click"]).select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", "10 minutes")
    purchases = src(["purchase"]).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", "10 minutes")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES")),
    )
    name = run_stream_to_memory(joined, "ssj_out")
    got = spark.table(name).select("click_id", "purchase_id")
    # Batch reference: identical join conditions on static frames.
    e = tables["events"]
    bc = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    bp = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = bc.join(
        bp,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("click_id", "purchase_id")
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0


def test_salted_join_matches_plain_join(spark, tables):
    """Skew-salting helper returns the same rows as the plain join."""
    from datamunging_spark.operators.relational import salted_join

    o = tables["orders"].limit(2000)
    c = tables["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = o.join(c, "o_custkey").count()
    salted = salted_join(o, c, ["o_custkey"], n_salt=8).count()
    assert salted == plain


def test_stateful_running_totals(spark, tables, tmp_path):
    """applyInPandasWithState: final per-user state equals the batch
    aggregate (counts are monotone → max over emissions = final)."""
    stream_dir = str(tmp_path / "stream2")
    tables["events"].write.mode("overwrite").parquet(stream_dir)
    events = read_event_stream(spark, stream_dir)
    totals = running_user_totals(events)
    name = run_stream_to_memory(totals, "user_totals", output_mode="update")
    got = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    batch = tables["events"].groupBy("user_id").agg(
        F.count(F.lit(1)).alias("batch_n")
    )
    joined = got.join(batch, "user_id", "full")
    assert joined.filter(
        F.col("n_events").isNull()
        | F.col("batch_n").isNull()
        | (F.col("n_events") != F.col("batch_n"))
    ).count() == 0


def test_dedup_stream_drops_repeats_within_watermark(spark, tmp_path):
    """X1 streaming ingest dedup: duplicate normalized contents arriving
    within the watermark horizon are dropped; distinct contents survive."""
    import datetime as dt

    from datamunging_spark.streaming import dedup_stream, run_stream_to_memory

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "alpha beta gamma"),
        (2, t0 + dt.timedelta(seconds=10), "Alpha  beta   GAMMA"),  # dup (normalized)
        (3, t0 + dt.timedelta(seconds=20), "delta epsilon"),
        (4, t0 + dt.timedelta(seconds=30), "alpha beta gamma"),  # dup again
        (5, t0 + dt.timedelta(seconds=40), "zeta eta"),
    ]
    src = tmp_path / "docs_stream"
    spark.createDataFrame(rows, ["doc_id", "ts", "text"]).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(str(src))
    name = run_stream_to_memory(
        dedup_stream(stream, watermark="10 minutes"), "dedup_sink"
    )
    kept = {r["doc_id"] for r in spark.table(name).collect()}
    # one survivor per distinct normalized content, first arrival wins
    assert len(kept) == 3 and 3 in kept and 5 in kept
    assert len(kept & {1, 2, 4}) == 1


def test_incremental_dedup_stream_vs_snapshot(spark, tmp_path):
    """Streaming continuous-ingest dedup: docs whose content is already in
    the static history snapshot are dropped by the stream-static anti-join;
    in-stream repeats collapse to first arrival; fresh docs survive."""
    import datetime as dt

    from datamunging_spark.operators.dedup import content_snapshot
    from datamunging_spark.streaming import (
        incremental_dedup_stream,
        run_stream_to_memory,
    )

    hist = spark.createDataFrame(
        [(100, "alpha beta gamma"), (101, "old news here")],
        ["doc_id", "text"],
    )
    snap = content_snapshot(hist).localCheckpoint()

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "ALPHA beta   gamma"),                      # dup of history
        (2, t0 + dt.timedelta(seconds=10), "fresh content"),
        (3, t0 + dt.timedelta(seconds=20), "old news here"),  # dup of history
        (4, t0 + dt.timedelta(seconds=30), "fresh  CONTENT"),  # in-stream dup
        (5, t0 + dt.timedelta(seconds=40), "brand new thing"),
    ]
    src = tmp_path / "incr_stream"
    spark.createDataFrame(rows, ["doc_id", "ts", "text"]).write.parquet(str(src))
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(str(src))
    name = run_stream_to_memory(
        incremental_dedup_stream(stream, snap), "incr_dedup_sink"
    )
    kept = {r["doc_id"] for r in spark.table(name).collect()}
    assert 5 in kept and len(kept & {1, 3}) == 0  # history dups gone
    assert len(kept & {2, 4}) == 1                # one in-stream survivor
    assert len(kept) == 2


def test_write_compacted_file_count(spark, tables, tmp_path):
    """Sink compaction must actually split on the plan-stats size estimate:
    a ~36 MB-estimated input at target 8 MB lands as several files (not the
    1-file fallback a broken estimator would produce), and a tiny input at
    a huge target compacts 16 partitions down to one file."""
    import glob

    from datamunging_spark.sources.io import write_compacted

    big = spark.range(1_000_000).selectExpr("id", "repeat('x', 28) AS pad")
    p1 = str(tmp_path / "split")
    write_compacted(big, p1, target_file_mb=8)
    n_split = len(glob.glob(p1 + "/part-*.parquet"))
    assert 2 <= n_split <= 10, n_split
    assert spark.read.parquet(p1).count() == 1_000_000

    p2 = str(tmp_path / "compacted")
    write_compacted(tables["orders"].repartition(16), p2, target_file_mb=1024)
    assert len(glob.glob(p2 + "/part-*.parquet")) == 1
    assert spark.read.parquet(p2).count() == tables["orders"].count()


def test_stateless_curation_ops_lift_to_streaming(spark, tmp_path):
    """Batch/stream parity for the stateless curation stages: quality
    filters + PII redaction + source mixing run UNCHANGED on a readStream
    (they are pure row expressions — no watermark or state needed) and
    produce exactly the batch result on the same data."""
    import datetime as dt

    from datamunging_spark.functions import redact_pii, token_count
    from datamunging_spark.operators.trainset import source_mix
    from datamunging_spark.streaming import run_stream_to_memory

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0, f"doc {i} body text with mail user{i}@example.com here",
         "web" if i % 2 else "wiki")
        for i in range(40)
    ] + [(99, t0, "tiny", "web")]
    src = tmp_path / "docs"
    schema = "doc_id long, ts timestamp, text string, source string"
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.parquet(str(src))

    def curate(df):
        kept = df.filter(token_count("text") >= 3)
        kept = kept.withColumn("text", redact_pii("text", ["email"]))
        return source_mix(kept, {"web": 0.5, "wiki": 2.0}).select(
            "doc_id", "text", "source", "copy"
        )

    stream = spark.readStream.schema(schema).parquet(str(src))
    name = run_stream_to_memory(curate(stream), "curate_stream")
    got = spark.table(name)
    want = curate(spark.read.parquet(str(src)))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.filter(F.col("text").contains("@")).count() == 0


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """Z-order write must cluster BOTH columns: per-output-file value
    ranges for x and y should each cover a small fraction of the global
    range (a single-column sort clusters only its leading column, leaving
    the other's per-file range ≈ the full domain)."""
    import glob

    from datamunging_spark.sources.io import write_sorted_parquet, zorder_write

    n = 50_000
    df = spark.range(n).selectExpr(
        "CAST(pmod(id * 2654435761, 100000) AS DOUBLE) AS x",
        "CAST(pmod(id * 40503, 100000) AS DOUBLE) AS y",
    )
    zp = str(tmp_path / "zorder")
    zorder_write(df, zp, ["x", "y"], bits=4, num_partitions=16)

    def mean_file_span(path, col):
        spans = []
        for f in glob.glob(path + "/part-*.parquet"):
            mm = spark.read.parquet(f).agg(
                F.min(col).alias("lo"), F.max(col).alias("hi")
            ).first()
            spans.append(mm["hi"] - mm["lo"])
        return sum(spans) / len(spans)

    # both dims clustered: mean per-file span well under the full range
    assert mean_file_span(zp, "x") < 0.55 * 100000
    assert mean_file_span(zp, "y") < 0.55 * 100000

    # contrast: plain sort by x leaves y unclustered (span ~ full range)
    sp = str(tmp_path / "xsorted")
    write_sorted_parquet(df, sp, ["x"], num_partitions=16)
    assert mean_file_span(sp, "x") < 0.15 * 100000
    assert mean_file_span(sp, "y") > 0.8 * 100000


def test_zorder_write_rejects_key_overflow(spark, tables, tmp_path):
    from datamunging_spark.sources.io import zorder_write

    with pytest.raises(ValueError, match="63-bit"):
        zorder_write(
            tables["orders"], str(tmp_path / "z"), ["o_custkey"] * 10, bits=7
        )


@pytest.mark.slow
def test_streaming_ingest_rolls_snapshots_across_microbatches(spark, tmp_path):
    """foreachBatch ingest loop: duplicates arriving in a LATER micro-batch
    than their original are dropped via the rolled-forward snapshot (beyond
    any watermark horizon), fresh docs land in the sink, and the returned
    snapshots cover exactly the distinct contents."""
    from datamunging_spark.streaming import streaming_ingest

    src = tmp_path / "ingest_src"
    src.mkdir()
    a = "alpha beta gamma delta epsilon content"
    b = "totally different second document body"
    c = "third unique piece of content here"
    spark.createDataFrame(
        [(1, a), (2, b)], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(10, a.upper()), (11, c)], ["doc_id", "text"]  # 10 = norm-dup of 1
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = tmp_path / "survivors"
    snaps = streaming_ingest(
        stream,
        survivors_path=str(out),
        checkpoint_path=str(tmp_path / "ckpt"),
        threshold=0.5,
    )
    surv = spark.read.parquet(str(out))
    texts = sorted(r["text"].lower() for r in surv.collect())
    assert len(texts) == 3 and texts == sorted([a, b, c])  # one per content
    assert snaps.content.count() == 3
    assert snaps.signatures.count() == 3


@pytest.mark.slow
def test_streaming_phash_ingest_across_microbatches_and_restart(
    spark, tmp_path
):
    """X3 streaming media ingest: an image near-dup arriving in a LATER
    micro-batch than its original is dropped via the rolled-forward
    dHash snapshot; fresh payloads land in the sink; with snapshot_path
    the state survives a fresh run (a later drop re-ingested against
    the persisted store drops its cross-RUN near-dup too)."""
    import random

    from datamunging_spark.streaming import streaming_phash_ingest

    rng = random.Random(23)

    def payload():
        return bytes(rng.randrange(256) for _ in range(400))

    def mutate(b, off):
        m = bytearray(b)
        m[off] = (m[off] + 90) % 256
        return bytes(m)

    p1, p2, p3 = payload(), payload(), payload()
    src = tmp_path / "media_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, p1), (2, p2)], "doc_id long, payload binary"
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(10, mutate(p1, 33)), (11, p3)],  # 10 = near-dup of batch-1 doc
        "doc_id long, payload binary",
    ).coalesce(1).write.parquet(str(src / "f2"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )

    out = tmp_path / "media_survivors"
    snap = streaming_phash_ingest(
        stream(),
        survivors_path=str(out),
        checkpoint_path=str(tmp_path / "media_ckpt"),
        snapshot_path=str(tmp_path / "media_snap"),
    )
    surv_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(str(out)).collect()
    )
    assert surv_ids == [1, 2, 11]  # 10 dropped against the rolled snapshot
    assert snap.count() == 3
    # second RUN: a new drop with a near-dup of a run-1 doc and one
    # fresh payload — state reloads from snapshot_path (hash_snapshot
    # argument deliberately omitted)
    p4 = payload()
    spark.createDataFrame(
        [(20, mutate(p3, 7)), (21, p4)], "doc_id long, payload binary"
    ).coalesce(1).write.parquet(str(src / "f3"))
    snap2 = streaming_phash_ingest(
        stream(),
        survivors_path=str(out),
        checkpoint_path=str(tmp_path / "media_ckpt"),
        snapshot_path=str(tmp_path / "media_snap"),
    )
    surv_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(str(out)).collect()
    )
    assert surv_ids == [1, 2, 11, 21]  # 20 dropped across RUNS
    assert snap2.count() == 4
    # crash-replay window (r12 review repro): a replayed batch whose
    # snapshot version ALREADY committed must be a full no-op — never a
    # self-overwrite of the version the run's state was loaded from,
    # never a duplicate survivor append. A fresh checkpoint replays
    # every source batch against the existing store (batch ids restart
    # at 0, versions 1..3 are all committed), exercising the guard for
    # each one.
    snap3 = streaming_phash_ingest(
        stream(),
        survivors_path=str(out),
        checkpoint_path=str(tmp_path / "media_ckpt_replay"),
        snapshot_path=str(tmp_path / "media_snap"),
    )
    surv_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(str(out)).collect()
    )
    assert surv_ids == [1, 2, 11, 21]  # no duplicates from the replays
    assert snap3.count() == 4          # committed versions intact
    # empty micro-batch: no survivor append, no version churn
    from datamunging_spark.sources.versioned import latest_table_version

    before_v = latest_table_version(spark, str(tmp_path / "media_snap"))
    spark.createDataFrame(
        [], "doc_id long, payload binary"
    ).coalesce(1).write.parquet(str(src / "f4"))
    streaming_phash_ingest(
        stream(),
        survivors_path=str(out),
        checkpoint_path=str(tmp_path / "media_ckpt"),
        snapshot_path=str(tmp_path / "media_snap"),
    )
    assert latest_table_version(
        spark, str(tmp_path / "media_snap")
    ) == before_v
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(str(out)).collect()
    ) == [1, 2, 11, 21]


def test_corpus_report_counts_and_dup_rate(spark):
    """Per-source census: token sums, distinct normalized contents, and
    duplicate rate line up with hand counts; NULL text counts as one
    empty-ish token doc, matching the tokenize('') == [''] contract."""
    from datamunging_spark.operators.quality import corpus_report

    rows = [
        (1, "a b c", "web"),
        (2, "A  B   C", "web"),     # normalized dup of 1
        (3, "d e", "web"),
        (4, "x y z w", "books"),
        (5, None, "books"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r["source"]: r.asDict() for r in corpus_report(df).collect()}
    assert got["web"]["n_docs"] == 3 and got["web"]["n_distinct"] == 2
    assert abs(got["web"]["dup_rate"] - 1 / 3) < 1e-6
    assert got["web"]["n_tokens"] == 3 + 3 + 2
    assert got["books"]["n_docs"] == 2 and got["books"]["dup_rate"] == 0.0
    assert got["books"]["n_tokens"] == 4 + 1  # split('') == [''] -> 1


def test_read_binary_files_content_and_glob(spark, tmp_path):
    """binaryFile source: one row per file with raw bytes; pathGlobFilter
    narrows by name; metadata-only projections don't need payload decode."""
    from datamunging_spark.sources.io import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01payload-a")
    (tmp_path / "b.bin").write_bytes(b"bee")
    (tmp_path / "skip.txt").write_bytes(b"nope")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"]["content"]) == b"\x00\x01payload-a"
    assert rows["b.bin"]["length"] == 3
    # composes with the X3 mapInPandas feature extractor: binary in, rows out
    from pyspark.sql import functions as F

    from datamunging_spark.operators.multimodal import extract_features

    media = df.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content").alias("payload"),
        F.struct(F.lit("image/x-fake").alias("media_type")).alias(
            "payload_meta"
        ),
    )
    feats = extract_features(media)
    assert feats.count() == 2


def test_compact_parquet_merges_small_files(spark, tables, tmp_path):
    """Compaction: a 32-part write collapses to the catalog-size-derived
    file count with identical rows."""
    import glob

    from datamunging_spark.sources.io import compact_parquet

    src = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    docs = tables["documents"].select("doc_id", "text")
    docs.repartition(32).write.mode("overwrite").parquet(src)
    assert len(glob.glob(src + "/part-*")) == 32

    n = compact_parquet(spark, src, out, target_file_mb=512)
    assert n == 1  # tiny dataset → single target file
    assert len(glob.glob(out + "/part-*")) == 1
    a = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    b = sorted(r["doc_id"] for r in docs.collect())
    assert a == b


@pytest.mark.slow
def test_streaming_ingest_snapshot_state_survives_restart(spark, tmp_path):
    """Restart durability: with checkpoint_path set, Structured Streaming
    SKIPS committed micro-batches on restart, so dedup state held only in
    driver memory would lose those batches' contents. With snapshots_path
    set, the roll-forward is versioned per batch and reloaded on start —
    a RESTARTED run (fresh in-memory state, same checkpoint) must still
    drop a duplicate of a batch committed before the 'crash'."""
    from datamunging_spark.streaming import streaming_ingest

    src = tmp_path / "restart_src"
    src.mkdir()
    a = "alpha beta gamma delta epsilon content"
    b = "totally different second document body"
    spark.createDataFrame(
        [(1, a)], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f1"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )

    out, ckpt, snaps_dir = (
        str(tmp_path / "surv"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "snaps"),
    )
    # run 1: ingest f1, commit, "crash" (function returns, memory gone)
    streaming_ingest(
        stream(),
        survivors_path=out,
        checkpoint_path=ckpt,
        snapshots_path=snaps_dir,
        threshold=0.5,
    )
    # f2 arrives while down: a norm-duplicate of batch-1 content + fresh doc
    spark.createDataFrame(
        [(10, a.upper()), (11, b)], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f2"))
    # run 2: same checkpoint (f1 skipped as committed), FRESH memory —
    # state must come from the persisted snapshot versions
    snaps = streaming_ingest(
        stream(),
        survivors_path=out,
        checkpoint_path=ckpt,
        snapshots_path=snaps_dir,
        threshold=0.5,
    )
    surv = spark.read.parquet(out)
    texts = sorted(r["text"].lower() for r in surv.collect())
    assert texts == sorted([a, b])  # doc 10 deduped across the restart
    assert snaps.content.count() == 2


def test_streaming_ingest_replayed_batch_is_noop(spark, tmp_path):
    """Crash window between the snapshot write and the streaming commit:
    restarting with a FRESH checkpoint (checkpoint lost, snapshots
    retained — the post-crash recovery shape) replays the source as batch
    0, whose snapshot version is already committed. The replay must be a
    full no-op — no self-overwrite crash of the snapshot version this
    run's state was loaded from, and no duplicate survivor append."""
    from datamunging_spark.streaming import streaming_ingest

    src = tmp_path / "replay_src"
    src.mkdir()
    a = "alpha beta gamma delta epsilon content"
    spark.createDataFrame(
        [(1, a)], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f1"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )

    out, ckpt, snaps_dir = (
        str(tmp_path / "surv"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "snaps"),
    )
    streaming_ingest(
        stream(),
        survivors_path=out,
        checkpoint_path=ckpt,
        snapshots_path=snaps_dir,
        threshold=0.5,
    )
    # crash simulation: the streaming commit log is gone, the snapshot
    # versions survived — batch 0 replays against committed v0
    snaps = streaming_ingest(
        stream(),
        survivors_path=out,
        checkpoint_path=str(tmp_path / "ckpt2"),
        snapshots_path=snaps_dir,
        threshold=0.5,
    )
    surv = spark.read.parquet(out)
    assert surv.count() == 1  # replay did NOT duplicate the sink append
    assert snaps.content.count() == 1  # state intact, no self-overwrite


def test_contract_rules_accepted_values_and_range(spark):
    from datamunging_spark.operators.quality import (
        accepted_values_rule,
        invalid_rows,
        range_rule,
        validation_summary,
    )

    df = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", -1.0), (3, "X", 5.0), (4, None, None)],
        "id int, status string, v double",
    )
    r1 = accepted_values_rule("status_ok", "status", ["A", "B"])
    r2 = range_rule("v_ok", "v", lo=0.0, hi=100.0)
    bad1 = sorted(r.id for r in invalid_rows(df, r1).collect())
    bad2 = sorted(r.id for r in invalid_rows(df, r2).collect())
    assert bad1 == [3, 4]   # X not accepted; NULL fails by default
    assert bad2 == [2, 4]   # below range; NULL fails
    s = validation_summary(df, [r1, r2]).collect()[0]
    assert (s.status_ok_failed, s.v_ok_failed) == (2, 2)
    # allow_null variants
    assert sorted(
        r.id for r in invalid_rows(
            df, accepted_values_rule("s2", "status", ["A", "B"],
                                     allow_null=True)
        ).collect()
    ) == [3]
    assert sorted(
        r.id for r in invalid_rows(
            df, range_rule("v2", "v", lo=0.0, allow_null=True)
        ).collect()
    ) == [2]


def test_unique_and_referential_reports(spark, tables):
    from datamunging_spark.operators.quality import (
        referential_report,
        unique_report,
    )

    # unique: customer keys are unique; doubling them breaks the contract
    c = tables["customer"]
    assert unique_report(c, ["c_custkey"]).count() == 0
    doubled = c.unionByName(c)
    dups = unique_report(doubled, ["c_custkey"])
    assert dups.count() == c.count()
    assert dups.agg(F.min("n_rows")).collect()[0][0] == 2

    # referential: every order's customer exists; poisoning keys breaks it
    o = tables["orders"]
    assert referential_report(
        o, c, ["o_custkey"], ["c_custkey"]
    ).count() == 0
    poisoned = o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + 10_000_000)
        .otherwise(F.col("o_custkey")),
    )
    missing = referential_report(poisoned, c, ["o_custkey"], ["c_custkey"])
    n_poisoned_keys = poisoned.filter(
        F.col("o_custkey") > 10_000_000
    ).select("o_custkey").distinct().count()
    assert missing.count() == n_poisoned_keys > 0
    # NULL FKs are "no reference", not violations
    with_null = o.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 2 == 0, None).otherwise(
            F.col("o_custkey")
        ),
    )
    assert referential_report(
        with_null, c, ["o_custkey"], ["c_custkey"]
    ).count() == 0


def test_referential_report_anti_join_plan(spark, tables):
    from datamunging_spark.operators.quality import referential_report

    plan = (
        referential_report(
            tables["orders"], tables["customer"],
            ["o_custkey"], ["c_custkey"],
        )._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "LeftAnti" in final
    assert "CartesianProduct" not in final


def test_xml_roundtrip(spark, tmp_path):
    from datamunging_spark.sources.io import read_xml, write_xml

    df = spark.createDataFrame(
        [(1, "a & b", 1.5), (2, "<tag>", None)], "id int, name string, v double"
    )
    path = str(tmp_path / "xml_out")
    write_xml(df, path, row_tag="rec", root_tag="recs")
    back = read_xml(
        spark, path, row_tag="rec", schema="id int, name string, v double"
    )
    # entity escaping (&, <) must round-trip losslessly
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_contract_rule_edge_cases(spark):
    import pytest as _pytest

    from datamunging_spark.operators.quality import (
        accepted_values_rule,
        invalid_rows,
        range_rule,
    )

    df = spark.createDataFrame(
        [(1, "A"), (2, None)], "id int, s string"
    )
    # None among values == allow_null (isin can never match NULL)
    ok = invalid_rows(df, accepted_values_rule("r", "s", ["A", None]))
    assert ok.count() == 0
    # bound-less range rule is a config error, not a vacuous pass
    with _pytest.raises(ValueError):
        range_rule("r", "v")


def test_windowed_counts_sliding_real_stream(spark, tmp_path):
    """Hopping windows through the REAL readStream path: each event lands
    in window/slide overlapping windows; batch hypertable_rollup with the
    same (bucket, slide) produces identical rows — the one-definition,
    batch-backfill + streaming-refresh claim for hopping windows."""
    from datamunging_spark.operators.relational import hypertable_rollup
    from datamunging_spark.streaming import (
        read_event_stream,
        run_stream_to_memory,
        windowed_counts,
    )

    src = tmp_path / "ev_src"
    src.mkdir()
    rows = [
        (1, "2024-01-01 00:07:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-01 00:12:00", 11, "click", 2.0, "{}"),
    ]
    batch = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    batch.coalesce(1).write.parquet(str(src / "f1"))

    stream = read_event_stream(spark, str(src) + "/*")
    counted = windowed_counts(
        stream, window="10 minutes", slide="5 minutes", watermark="0 seconds"
    )
    # complete mode: append would withhold windows the 0s watermark has
    # not yet closed past (the finite drain stops at the max event ts)
    name = run_stream_to_memory(
        counted, "slide_counts", output_mode="complete"
    )
    got = sorted(
        (str(r.win_start), r.n_events)
        for r in spark.table(name).collect()
    )
    want = sorted(
        (str(r.bucket_start), r.n)
        for r in hypertable_rollup(
            batch, "ts", "10 minutes", {"n": F.count(F.lit(1))},
            slide="5 minutes",
        ).collect()
    )
    assert got == want and len(got) == 3


@pytest.mark.slow
def test_streaming_ingest_span_stage_cuts_across_microbatches(
    spark, tmp_path
):
    """span=True: a batch-2 document embedding a verbatim span first seen
    in batch 1 gets that span CUT (keep-earliest across micro-batches),
    while exact/fuzzy-fresh content otherwise survives intact; the
    returned span state covers the cleaned corpus."""
    from datamunging_spark.streaming import streaming_ingest

    S = "this exact licensed boilerplate sentence repeats verbatim!!"
    a = "first document unique head. " * 3 + S
    b = "completely different second batch body here. " * 3 + S
    c = "third document with no shared content at all whatsoever okay"
    src = tmp_path / "span_src"
    src.mkdir()
    spark.createDataFrame([(1, a)], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(str(src / "f1"))
    spark.createDataFrame([(10, b), (11, c)], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = tmp_path / "span_surv"
    snaps, (span_fps, span_texts) = streaming_ingest(
        stream,
        survivors_path=str(out),
        checkpoint_path=str(tmp_path / "span_ckpt"),
        threshold=0.9,
        span=True,
    )
    surv = {r.doc_id: r.text for r in spark.read.parquet(str(out)).collect()}
    assert surv[1] == a                      # batch-1 copy survives whole
    assert S not in surv[10]                 # batch-2 copy of the span cut
    assert surv[10].startswith("completely different")
    assert surv[11] == c                     # untouched fresh doc
    # span state covers the cleaned corpus: ids of texts == survivor ids
    assert {r.doc_id for r in span_texts.collect()} == {1, 10, 11}
    assert span_fps.count() > 0


@pytest.mark.slow
def test_streaming_ingest_span_state_survives_restart(spark, tmp_path):
    """Restart durability for the span stage: with snapshots_path set the
    fingerprint/text span state is versioned per batch; a RESTARTED run
    (fresh memory, same checkpoint) must still cut a span first seen in a
    batch committed before the 'crash'."""
    from datamunging_spark.streaming import streaming_ingest

    S = "this exact licensed boilerplate sentence repeats verbatim!!"
    a = "first document unique head. " * 3 + S
    b = "completely different second batch body here. " * 3 + S
    src = tmp_path / "span_restart_src"
    src.mkdir()
    spark.createDataFrame([(1, a)], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(str(src / "f1"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )

    out, ckpt, snaps_dir = (
        str(tmp_path / "sr_surv"),
        str(tmp_path / "sr_ckpt"),
        str(tmp_path / "sr_snaps"),
    )
    streaming_ingest(
        stream(), survivors_path=out, checkpoint_path=ckpt,
        snapshots_path=snaps_dir, threshold=0.9, span=True,
    )
    spark.createDataFrame([(10, b)], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(str(src / "f2"))
    snaps, (span_fps, span_texts) = streaming_ingest(
        stream(), survivors_path=out, checkpoint_path=ckpt,
        snapshots_path=snaps_dir, threshold=0.9, span=True,
    )
    surv = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert surv[1] == a
    assert S not in surv[10]  # span state crossed the restart
    assert {r.doc_id for r in span_texts.collect()} == {1, 10}


def test_streaming_ingest_span_replayed_batch_is_noop(spark, tmp_path):
    """Crash window between snapshot commit and streaming commit, span
    stage on: the replayed batch must be a full no-op (no duplicate sink
    append, no span-state self-append) and the reloaded span state must
    still cut a later duplicate span."""
    from datamunging_spark.streaming import streaming_ingest

    S = "this exact licensed boilerplate sentence repeats verbatim!!"
    a = "first document unique head. " * 3 + S
    src = tmp_path / "span_replay_src"
    src.mkdir()
    spark.createDataFrame([(1, a)], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(str(src / "f1"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )

    out, snaps_dir = (
        str(tmp_path / "spr_surv"),
        str(tmp_path / "spr_snaps"),
    )
    streaming_ingest(
        stream(), survivors_path=out,
        checkpoint_path=str(tmp_path / "spr_ckpt"),
        snapshots_path=snaps_dir, threshold=0.9, span=True,
    )
    # checkpoint lost, snapshots retained -> batch 0 replays as committed
    snaps, (span_fps, span_texts) = streaming_ingest(
        stream(), survivors_path=out,
        checkpoint_path=str(tmp_path / "spr_ckpt2"),
        snapshots_path=snaps_dir, threshold=0.9, span=True,
    )
    assert spark.read.parquet(out).count() == 1  # no duplicate append
    assert span_texts.count() == 1               # no span-state self-append


@pytest.mark.slow
def test_streaming_ingest_span_torn_version_replay_converges(
    spark, tmp_path
):
    """Crash window between the span-state write and the commit marker:
    the torn marker-less v0 directory (span_fps/span_texts on disk)
    must be OVERWRITTEN by the replayed batch, not throw
    PATH_ALREADY_EXISTS forever (write_snapshots' replay-convergence
    contract extends to the span state). Also vacuums to keep_last=1 and
    checks retention."""
    from datamunging_spark.sources.versioned import COMMIT_MARKER
    from datamunging_spark.streaming import streaming_ingest

    S = "this exact licensed boilerplate sentence repeats verbatim!!"
    a = "first document unique head. " * 3 + S
    b = "second batch different body. " * 3 + S
    src = tmp_path / "torn_src"
    src.mkdir()
    spark.createDataFrame([(1, a)], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(str(src / "f1"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )

    out, snaps_dir = str(tmp_path / "t_surv"), str(tmp_path / "t_snaps")
    streaming_ingest(
        stream(), survivors_path=out,
        checkpoint_path=str(tmp_path / "t_ckpt"),
        snapshots_path=snaps_dir, threshold=0.9, span=True,
    )
    # simulate the torn write: rip the marker off v0 and lose the
    # checkpoint -> batch 0 replays as UNCOMMITTED into the existing dir
    vdirs = [p for p in (tmp_path / "t_snaps").iterdir() if p.name[0] == "v"]
    assert len(vdirs) == 1
    (vdirs[0] / COMMIT_MARKER).unlink()
    (tmp_path / "t_surv_gone").mkdir()  # fresh sink too (torn append)
    streaming_ingest(
        stream(), survivors_path=str(tmp_path / "t_surv_gone"),
        checkpoint_path=str(tmp_path / "t_ckpt2"),
        snapshots_path=snaps_dir, threshold=0.9, span=True,
    )  # converges: overwrite of the torn span dirs, no crash
    # second batch: span state still cuts, and keep_last=1 vacuums v0
    spark.createDataFrame([(10, b)], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(str(src / "f2"))
    snaps, (span_fps, span_texts) = streaming_ingest(
        stream(), survivors_path=str(tmp_path / "t_surv_gone"),
        checkpoint_path=str(tmp_path / "t_ckpt2"),
        snapshots_path=snaps_dir, threshold=0.9, span=True,
        snapshots_keep_last=1,
    )
    surv = {
        r.doc_id: r.text
        for r in spark.read.parquet(str(tmp_path / "t_surv_gone")).collect()
    }
    assert S not in surv[10]  # span history survived the torn replay
    committed = [
        p.name
        for p in (tmp_path / "t_snaps").iterdir()
        if p.name[0] == "v" and (p / COMMIT_MARKER).exists()
    ]
    assert len(committed) == 1  # vacuumed to keep_last=1


@pytest.mark.slow
def test_streaming_ingest_span_state_is_delta_log(spark, tmp_path):
    """r9 bounded span state: with span_base_every=None (pure delta
    log) every version persists ONLY the batch's increment
    (span_*_delta, one survivor row here) and never a full base —
    per-fold disk tracks batch size, not corpus size — and a restarted
    run reconstructs the full span history by unioning the delta chain
    (the late batch still loses its span to a doc from batch 0). With
    snapshots_keep_last=2 a FULL base is compacted on the cadence,
    vacuum retires old deltas, and the state still cuts after the
    vacuum."""
    from datamunging_spark.sources.versioned import COMMIT_MARKER
    from datamunging_spark.streaming import streaming_ingest

    S = "this exact licensed boilerplate sentence repeats verbatim!!"
    texts = {
        1: "first doc unique head. " * 3 + S,
        10: "second doc other body entirely. " * 3,
        20: "third doc again different text. " * 3,
        30: "late fourth doc new material. " * 3 + S,
    }
    src = tmp_path / "delta_src"
    src.mkdir()
    for i, (did, t) in enumerate(list(texts.items())[:3]):
        spark.createDataFrame([(did, t)], ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(str(src / f"f{i}"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )

    out, ckpt, snaps = (
        str(tmp_path / "d_surv"),
        str(tmp_path / "d_ckpt"),
        str(tmp_path / "d_snaps"),
    )
    streaming_ingest(
        stream(), survivors_path=out, checkpoint_path=ckpt,
        snapshots_path=snaps, threshold=0.9, span=True,
        span_base_every=None,
    )
    vdirs = sorted(
        p for p in (tmp_path / "d_snaps").iterdir() if p.name[0] == "v"
    )
    assert len(vdirs) == 3
    for v in vdirs:
        assert (v / "span_fps_delta").exists()
        assert (v / "span_texts_delta").exists()
        assert not (v / "span_fps").exists()  # pure delta log: no base
        # the increment is THIS batch's one survivor, not the corpus
        assert (
            spark.read.parquet(str(v / "span_texts_delta")).count() == 1
        )
    # restart: batch 3 reconstructs from the 3-delta chain and cuts
    spark.createDataFrame(
        [(30, texts[30])], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f3"))
    streaming_ingest(
        stream(), survivors_path=out, checkpoint_path=ckpt,
        snapshots_path=snaps, threshold=0.9, span=True,
        snapshots_keep_last=2,
    )
    surv = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert surv[1] == texts[1] and S not in surv[30]
    # keep_last=2 on a 4-delta chain forces a base compaction at v3 and
    # vacuums to the last 2 versions; the retained window carries the
    # base its reconstruction needs
    committed = sorted(
        p
        for p in (tmp_path / "d_snaps").iterdir()
        if p.name[0] == "v" and (p / COMMIT_MARKER).exists()
    )
    assert len(committed) == 2
    assert (committed[-1] / "span_fps").exists()  # the compacted base
    # post-vacuum restart: state reconstructs from the retained window
    spark.createDataFrame(
        [(40, "fifth doc body. " * 3 + S)], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f4"))
    streaming_ingest(
        stream(), survivors_path=out, checkpoint_path=ckpt,
        snapshots_path=snaps, threshold=0.9, span=True,
        snapshots_keep_last=2,
    )
    surv = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert S not in surv[40]


def test_maybe_parquet_missing_is_none_corrupt_raises(spark, tmp_path):
    """The span-state read maps ONLY missing span directories to None (a
    span-free version: bootstrap); span directories with an unreadable
    file must raise rather than silently reset span history to empty."""
    from pathlib import Path

    from datamunging_spark.sources.versioned import DeltaLog, mark_committed
    from datamunging_spark.streaming import _SPAN_LAYOUT

    log = DeltaLog(str(tmp_path), **_SPAN_LAYOUT)
    Path(log.vdir(0)).mkdir()
    mark_committed(spark, log.vdir(0))
    assert log.read(spark, 0)[0] is None
    for part in _SPAN_LAYOUT["base"]:
        bad = Path(log.vdir(1)) / part
        bad.mkdir(parents=True)
        (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    mark_committed(spark, log.vdir(1))
    raised = False
    try:
        df = log.read(spark, 1)[0]
        if df is not None:  # corruption may surface only at action time
            df[0].collect()
    except Exception:
        raised = True
    # silently-None (or silently-readable) is exactly the regression
    assert raised, "corrupt span-state dir did not raise"


@pytest.mark.slow
def test_streaming_ingest_span_base_cadence_without_retention(
    spark, tmp_path
):
    """r9 ADVICE (fixed r11): snapshots_keep_last=None no longer means
    unbounded reload lineage — span_base_every compacts a full base on
    its own cadence (default 64; 3 here), so restart reconstruction
    unions at most one base + the deltas after it. With cadence 3 over
    three folds: v0 base (first fold), v1 and v2 deltas (a chain of
    three versions); a fourth batch restarts from the v0 base + two
    deltas, still cuts, and compacts v3 to a base (one more delta
    would make the chain longer than 3)."""
    from datamunging_spark.streaming import streaming_ingest

    S = "cadence boilerplate sentence that repeats verbatim everywhere!!"
    src = tmp_path / "cad_src"
    src.mkdir()
    docs = [
        (1, "first unique doc body here. " * 3 + S),
        (10, "second doc some other text. " * 3),
        (20, "third doc more different text. " * 3),
    ]
    for i, (did, t) in enumerate(docs):
        spark.createDataFrame([(did, t)], ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(str(src / f"f{i}"))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )

    out, ckpt, snaps = (
        str(tmp_path / "c_surv"),
        str(tmp_path / "c_ckpt"),
        str(tmp_path / "c_snaps"),
    )
    streaming_ingest(
        stream(), survivors_path=out, checkpoint_path=ckpt,
        snapshots_path=snaps, threshold=0.9, span=True,
        span_base_every=3,
    )
    vdirs = sorted(
        p for p in (tmp_path / "c_snaps").iterdir() if p.name[0] == "v"
    )
    assert len(vdirs) == 3
    assert (vdirs[0] / "span_fps").exists()  # first fold: base
    assert not (vdirs[0] / "span_fps_delta").exists()
    assert (vdirs[1] / "span_fps_delta").exists()  # mid-window: delta
    assert not (vdirs[1] / "span_fps").exists()
    assert (vdirs[2] / "span_fps_delta").exists()  # chain of 3: delta
    assert not (vdirs[2] / "span_fps").exists()
    # restart reconstructs from the base + deltas and still cuts
    spark.createDataFrame(
        [(30, "fourth doc late arrival. " * 3 + S)], ["doc_id", "text"]
    ).coalesce(1).write.parquet(str(src / "f3"))
    streaming_ingest(
        stream(), survivors_path=out, checkpoint_path=ckpt,
        snapshots_path=snaps, threshold=0.9, span=True,
        span_base_every=3,
    )
    surv = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert surv[1].endswith(S) and S not in surv[30]
    vdirs = sorted(
        p for p in (tmp_path / "c_snaps").iterdir() if p.name[0] == "v"
    )
    assert len(vdirs) == 4
    assert (vdirs[3] / "span_fps").exists()  # cadence hit: base again
    assert not (vdirs[3] / "span_fps_delta").exists()
    import pytest

    with pytest.raises(ValueError, match="span_base_every"):
        streaming_ingest(stream(), span=True, span_base_every=0)
