"""Plan-shape assertions for the 100 TB design points (SCALE.md): bucketed
co-located joins, partition pruning, and broadcast selection. These pin the
*physical plans*, not just results — a regression here is a scale bug even
when answers stay correct."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from datamunging_spark.sources import materialize_columnar
from datamunging_spark.sources.io import write_bucketed_table


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, tables, tmp_path):
    """Same-key, same-count bucketed tables join with zero Exchange.
    (Managed tables land in the session warehouse dir, /tmp/spark-warehouse;
    dropped in the finally block.)"""
    write_bucketed_table(
        tables["orders"], "b_orders", "o_custkey", num_buckets=8
    )
    write_bucketed_table(
        tables["customer"].withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer",
        "o_custkey",
        num_buckets=8,
    )
    # Disable auto-broadcast so the join would OTHERWISE shuffle both sides.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_partition_pruning_on_partitioned_write(spark, tables, tmp_path):
    """Writing partitioned-by-key and filtering on the key prunes the scan
    to matching directories (PartitionFilters, not data filters)."""
    p = str(tmp_path / "events_by_type")
    materialize_columnar(tables["events"], p, partition_by=["event_type"])
    df = spark.read.parquet(p).filter(F.col("event_type") == "click")
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1][:200]
    n_click = tables["events"].filter(F.col("event_type") == "click").count()
    assert df.count() == n_click


def test_dim_join_broadcasts(spark, tables):
    """Small-dimension joins pick BroadcastHashJoin (no fact shuffle)."""
    j = tables["customer"].join(
        tables["nation"],
        tables["customer"].c_nationkey == tables["nation"].n_nationkey,
    )
    assert "BroadcastHashJoin" in _plan(j)


def test_decontaminate_broadcasts_benchmark_grams(spark, tables):
    """X5 decontamination must broadcast the (small) benchmark gram set —
    the corpus side may never shuffle its exploded grams."""
    from datamunging_spark.operators.trainset import contamination_report

    d = tables["documents"]
    bench = d.filter(F.col("doc_id") % 20 == 0).select("doc_id", "text")
    plan = _plan(contamination_report(d, bench, n=5, min_overlap=2))
    assert "BroadcastHashJoin" in plan, plan
    # The only hashpartitioning exchanges allowed are the window/aggregate
    # ones keyed on doc_id — never on the gram column.
    for frag in plan.split("Exchange hashpartitioning")[1:]:
        assert "_sh" not in frag[:60], plan


def test_source_mix_has_no_exchange(spark, tables):
    """X5 source mixing is per-row expressions only: zero shuffles."""
    from datamunging_spark.operators.trainset import source_mix

    plan = _plan(
        source_mix(
            tables["documents"].select("doc_id", "source"),
            {"src0": 2.5, "src1": 0.5},
        )
    )
    assert "Exchange" not in plan, plan


def test_training_shuffle_single_range_exchange(spark, tables):
    """X5 training shuffle pays exactly one exchange: rangepartitioning on
    the md5 key; the in-partition sort is local (no global Sort exchange)."""
    from datamunging_spark.operators.trainset import training_shuffle

    plan = _plan(
        training_shuffle(
            tables["documents"].select("doc_id"), ["doc_id"], salt="s"
        )
    )
    # formatted output names each node twice (tree + detail) — count nodes.
    assert plan.count("+- Exchange") == 1, plan
    assert "rangepartitioning" in plan and "hashpartitioning" not in plan, plan


def test_chunk_documents_has_no_exchange(spark, tables):
    """X5 chunking is tokenize-once + posexplode + slice: zero shuffles."""
    from datamunging_spark.operators.text import chunk_documents

    plan = _plan(
        chunk_documents(
            tables["documents"].select("doc_id", "text"),
            max_tokens=32,
            overlap=8,
        )
    )
    assert "Exchange" not in plan, plan


def test_take_token_budget_never_single_partition(spark, tables):
    """X5 token budget is the DISTRIBUTED prefix sum: its window partitions
    by _pid (per-partition cumsum over broadcast base offsets), so the plan
    must contain no single-partition exchange — the failure mode of the
    naive Window.orderBy-with-no-partitionBy global cumsum."""
    from datamunging_spark.functions import token_count
    from datamunging_spark.operators.trainset import take_token_budget

    d = tables["documents"].select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    plan = _plan(take_token_budget(d, 10_000, order_cols=["doc_id"]))
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan, plan


def test_split_dataset_has_no_exchange(spark, tables):
    """X5 train/val/test split is a pure per-row expression: zero shuffles
    (the subset-stability guarantee depends on exactly this — no
    partition-dependent state anywhere in the plan)."""
    from datamunging_spark.operators.trainset import split_dataset

    plan = _plan(
        split_dataset(
            tables["documents"].select("doc_id"),
            {"train": 0.9, "val": 0.1},
            id_cols=["doc_id"],
        )
    )
    assert "Exchange" not in plan, plan


def test_stratified_sample_portable_has_no_exchange(spark, tables):
    """Portable stratified sampling is a codegen filter: zero shuffles,
    sampler evaluated at the scan."""
    from datamunging_spark.operators.sampling import stratified_sample

    plan = _plan(
        stratified_sample(
            tables["documents"].select("doc_id", "source"),
            "source",
            {"src0": 0.5, "src1": 0.1},
            id_cols=["doc_id"],
        )
    )
    assert "Exchange" not in plan, plan


def test_bucketed_snapshot_antijoin_history_side_no_shuffle(spark, tables):
    """The 100 TB incremental-dedup shape: a snapshot persisted as a
    bucketed table anti-joins WITHOUT exchanging the history side — only
    the (small) batch side shuffles to meet the buckets. Survivors match
    the plain path exactly."""
    from datamunging_spark.operators.dedup import (
        content_snapshot,
        incremental_dedup,
        read_snapshots_table,
        write_snapshots_table,
        Snapshots,
    )

    docs = tables["documents"].select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 200)
    batch = docs.filter(F.col("doc_id") >= 200)
    snap = content_snapshot(hist)
    write_snapshots_table(Snapshots(snap, None), "t_snap", num_buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = read_snapshots_table(spark, "t_snap").content
        j = incremental_dedup(
            batch, seen, within_batch=False, seen_distinct=True
        )
        plan = _plan(j)
        import re

        # exactly ONE Exchange node (formatted mode: "(n) Exchange"
        # headers), and it is the batch side — the bucketed snapshot scan
        # goes straight to Sort.
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        plain = incremental_dedup(batch, snap, within_batch=False)
        assert j.exceptAll(plain).count() == 0 and plain.exceptAll(j).count() == 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS t_snap_content")


def test_substring_decontam_plans_broadcast_anti_join(spark, tables):
    """The substring matcher must plan as a broadcast nested-loop LEFT ANTI
    join (probes broadcast, corpus scanned once) — and the normalization
    must sit BELOW the join as a projection, not inside the join condition
    (where it would re-run per (row, probe) comparison)."""
    from pyspark.sql import functions as F

    from datamunging_spark.functions import normalize_text
    from datamunging_spark.operators.trainset import decontaminate_substring

    docs = tables["documents"].select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.substring(normalize_text("text"), 1, 48).alias("text")
    )
    plan = _plan(decontaminate_substring(docs, bench, min_len=20))
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan
    # the join condition references the projected _norm attribute, not a
    # regexp_replace chain (which would mean per-comparison re-execution)
    import re

    cond = re.search(r"Join condition.*", plan)
    assert cond and "regexp_replace" not in cond.group(0)


def test_lm_score_broadcasts_model(spark, tables):
    """The vocabulary-sized LM model must ride a BroadcastExchange into the
    scoring join — never a shuffle of the exploded corpus on token."""
    from datamunging_spark.operators.text import (
        lm_quality_score,
        unigram_lm_fit,
    )

    docs = tables["documents"].select("doc_id", "text")
    lm = unigram_lm_fit(docs)
    plan = _plan(lm_quality_score(docs, lm))
    assert "BroadcastExchange" in plan


def test_semantic_pairs_plan_is_equi_join_not_cartesian(spark, tables):
    """Within-cell pair generation must be an equi-join on the cell id —
    never CartesianProduct / BroadcastNestedLoopJoin (the all-pairs trap
    SemDeDup exists to avoid)."""
    from datamunging_spark.operators.dedup import semantic_neardup_pairs

    emb = tables["embeddings"].select("vec_id", "embedding")
    plan = _plan(
        semantic_neardup_pairs(emb, id_col="vec_id", threshold=0.5,
                               n_clusters=8)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_fit_broadcasts_context_totals(spark, tables):
    """The bigram context-count join must broadcast the unigram-sized
    aggregate side rather than re-shuffling the (w1, w2) counts on w1."""
    from datamunging_spark.operators.text import bigram_lm_fit

    docs = tables["documents"].select("doc_id", "text")
    plan = _plan(bigram_lm_fit(docs))
    assert "BroadcastExchange" in plan


def test_pivot_is_single_hash_aggregate_no_domain_scan(spark, tables):
    """With a declared value domain the pivot plans as ONE aggregate pass
    over the fact table (no second scan to discover distinct pivot values,
    which is what an undeclared domain costs at 100 TB)."""
    from datamunging_spark.operators.relational import pivot_table

    wide = pivot_table(
        tables["orders"], ["o_orderpriority"], "o_orderstatus",
        ["F", "O", "P"], F.count(F.lit(1)),
    )
    plan = _plan(wide)
    # one scan node (formatted output prints "Location:" once per scan)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "HashAggregate" in plan


def test_gap_fill_no_cartesian_one_key_exchange_family(spark, tables):
    """gap_fill must plan as union + window (asof_join's shape): no
    BroadcastNestedLoop/Cartesian from the spine, and every Exchange is
    hash/range on the key family — the spine never cross-joins the data."""
    from datamunging_spark.operators.relational import gap_fill

    e = tables["events"].select(
        "user_id", F.to_date("ts").alias("d"), "value"
    ).groupBy("user_id", "d").agg(F.sum("value").alias("v"))
    out = gap_fill(e, ["user_id"], "d", ["v"], step="1 day")
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_blocked_pairs_is_equi_join_not_cartesian(spark, tables):
    """Blocking must plan as an equi-join on the block key; a similarity
    predicate alone would degrade to a nested-loop cross product."""
    from datamunging_spark.operators.entity import (
        blocked_pairs,
        name_similarity,
    )

    c = tables["customer"].select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    pairs = blocked_pairs(
        c, "id", F.col("id") % 100, ["name"]
    ).filter(name_similarity("a_name", "b_name") >= 0.9)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_plan_summary_counts(spark, tables):
    from datamunging_spark.plans import plan_summary

    df = tables["lineitem"].groupBy("l_returnflag").count()
    s = plan_summary(df)
    assert s["exchanges"] >= 1 and not s["cartesian"]
    assert s["codegen_spans"] is None  # unexecuted: AQE not finalized
    df.collect()  # count() builds a NEW plan; collect executes THIS one
    assert plan_summary(df)["codegen_spans"] >= 1
    joined = tables["orders"].join(
        tables["customer"],
        tables["orders"].o_custkey == tables["customer"].c_custkey,
    )
    assert plan_summary(joined)["cartesian"] is False


def test_span_dedup_candidates_are_equi_join_not_cartesian(spark, tables):
    """Span-dedup candidate generation must be a fingerprint equi-join
    (the winnowing design point) — never CartesianProduct /
    BroadcastNestedLoopJoin, which would be the all-pairs suffix-array
    comparison the operator exists to avoid."""
    from datamunging_spark.operators.spandedup import shared_span_pairs

    docs = tables["documents"].select("doc_id", "text")
    plan = _plan(
        shared_span_pairs(docs, min_span=50, gram=24, materialize=False)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_checkpoint_stage_audit_captures_composites(spark, tables):
    """The r8 PLAN_AUDIT fix: eagerly-checkpointed composites must report
    their per-stage plans through the localCheckpoint hook instead of the
    0-shuffle final frame — drift assert for tools/audit_plans.py."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from audit_plans import _CheckpointAudit

    from datamunging_spark.operators.dedup import ingest_batch
    from datamunging_spark.plans import plan_summary

    docs = tables["documents"].select("doc_id", "text").limit(200)
    with _CheckpointAudit() as ck:
        surv, _ = ingest_batch(docs, None)
        final = plan_summary(surv)
    assert len(ck.stages) >= 3  # exact pass + signing + survivor slices
    assert sum(s["exchanges"] for s in ck.stages) >= 2
    assert not any(s["cartesian"] for s in ck.stages)
    # the final frame alone under-reports — exactly why the hook exists
    assert final["exchanges"] <= sum(s["exchanges"] for s in ck.stages)
    # hook restored on exit
    from pyspark.sql.classic.dataframe import DataFrame

    assert DataFrame.localCheckpoint.__name__ == "localCheckpoint"


def test_quantile_summary_never_sorts_or_shuffles_the_data_column(
    spark, tables
):
    """X8 quantile sketch scale shape: the ONLY thing that crosses an
    exchange is the partial KLL sketch state — the raw column is never
    globally sorted (that would be the exact-percentile plan), never
    hashed into a data-sized shuffle, and never leaves the JVM for a
    Python or Arrow worker. Pinned on the ungrouped and grouped
    summaries and on the report over them."""
    import re

    from datamunging_spark.operators.sketch import (
        grouped_quantile_report,
        grouped_quantile_summary,
        quantile_report,
        quantile_summary,
    )

    li = tables["lineitem"]
    plans = [
        quantile_summary(li, "l_extendedprice", k=64),
        grouped_quantile_summary(
            li, ["l_returnflag"], "l_extendedprice", k=64
        ),
        quantile_report(
            quantile_summary(li, "l_extendedprice", k=64), [0.5, 0.99]
        ),
        grouped_quantile_report(
            grouped_quantile_summary(
                li, ["l_returnflag"], "l_extendedprice", k=64
            ),
            ["l_returnflag"],
            [0.5],
        ),
    ]
    for df in plans:
        plan = _plan(df)
        assert not re.search(r"Sort|Python|Arrow|MapInPandas", plan), plan
        # tree section only (the node-detail section re-mentions every
        # operator); in the tree a child prints on the line below its
        # parent, so each Exchange's input is the next line
        tree = plan.split("\n\n")[0].splitlines()
        exchanges = [i for i, line in enumerate(tree) if "Exchange" in line]
        assert len(exchanges) == 1, plan
        child = tree[exchanges[0] + 1]
        assert "ObjectHashAggregate" in child, plan
        node = re.search(r"\((\d+)\)", child).group(1)
        detail = plan.split(f"({node}) ObjectHashAggregate")[1]
        detail = detail.split("\n\n")[0]
        assert "partial_kll_sketch_agg_double" in detail, detail


def test_executed_plan_rows_reads_runtime_metrics(spark, tables):
    """r11 rows-class machinery: executed_plan_rows executes the plan
    JVM-side and reads real shuffle/broadcast/scan row metrics off the
    AQE-finalized tree — the numbers PLAN_AUDIT's measured rows-class
    column is built from."""
    from datamunging_spark.plans import executed_plan_rows

    agg = tables["lineitem"].groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n")
    )
    r = executed_plan_rows(agg)
    # one shuffle carrying the partial-agg rows: a handful of flag
    # groups per input partition — summary-sized vs the corpus scan
    assert len(r["shuffle_rows"]) == 1
    corpus = max(r["scan_rows"])
    assert corpus == tables["lineitem"].count()
    assert 0 < r["shuffle_rows"][0] < 0.05 * corpus
    # broadcast join: the dim side's rows appear as broadcast_rows
    rj = executed_plan_rows(tables["supplier"].join(
        F.broadcast(tables["nation"]),
        tables["supplier"].s_nationkey == tables["nation"].n_nationkey,
    ))
    assert 25 in rj["broadcast_rows"]
