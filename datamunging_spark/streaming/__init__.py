"""Structured Streaming surface (SURVEY.md §2.8 growth path).

The reference has no streaming (§2.8) — this is the engine's event-stream
extension over the driver's ``events`` table shape: file-source readStream →
watermarked tumbling/sliding window aggregation → sink. Batch/stream share
the same expressions, so every batch operator lifts to streaming unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from datamunging_spark.sources.versioned import (
    DeltaLog,
    apply_delta,
    base_cadence,
    check_keep_last,
    latest_table_version,
    mark_committed,
    vacuum_table_versions,
    version_committed,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of events parquet drops (exactly-once, replayable)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window count+sum per event_type.

    Late rows beyond ``watermark`` are dropped and state is bounded — the
    standard scale-safe shape (state size ∝ active windows × types, not
    stream length)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("s", DoubleType())]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running event count + value sum, one output row per user per microbatch.

    The state is two scalars per key — bounded by cardinality(user), not
    stream length. Arrow batches stream through the Python worker; the same
    code path runs per-key-group in batch mode tests. This is the engine's
    template for custom stateful ops the built-in aggregations can't express
    (e.g. decaying counters, per-key model state).
    """

    def update(key, pdfs, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    df: DataFrame, name: str, timeout_s: int = 60, output_mode: str = "append"
):
    """Drive a stream to completion against a finite file source (test
    harness): memory sink, processAllAvailable, return the sink table name."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup on ingest (X1 lifted to streams): drop any doc
    whose normalized-content md5 was already seen within the watermark
    horizon, via ``dropDuplicatesWithinWatermark``.

    This is the scale-correct ingest-dedup shape: state holds one md5 key
    per distinct doc seen inside the watermark window (bounded by arrival
    rate × horizon, NOT stream length — the engine evicts keys older than
    the watermark). Batch backfill and the streaming path share the same
    normalize+md5 expressions as ``exact_dedup``, so a corpus built by
    stream ingest and one built by batch curation agree on the surviving
    content set (batch keeps min-id per hash; the stream keeps the first
    arrival — same contents, documented survivor difference)."""
    from datamunging_spark.functions import normalize_text

    keyed = docs.withColumn("_h", F.md5(normalize_text(text_col)))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def incremental_dedup_stream(
    docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Streaming counterpart of :func:`~datamunging_spark.operators.dedup.
    incremental_dedup`: drop any streamed doc whose normalized content is
    already in the HISTORICAL corpus snapshot (``seen`` — a static
    :func:`~datamunging_spark.operators.dedup.content_snapshot` table),
    then exact-dedup within the stream via
    ``dropDuplicatesWithinWatermark``.

    Scale shape: a stream-static LEFT ANTI join — the idiomatic Spark
    pattern for "filter the stream against a reference table". The static
    side is re-read per micro-batch (so a snapshot replaced on disk is
    picked up without restarting the query), which is exactly why the
    snapshot format is a slim hash-only table: the per-batch cost is one
    scan of 32-char hashes, broadcastable while the history stays small
    and a hash equi-join beyond that. Stream-side state is the same
    bounded within-watermark key set as :func:`dedup_stream`.

    Hash contract matches exact_dedup/content_snapshot (NULL text hashes
    as ''), so the stream and batch ingest paths agree on survivors. To
    roll history forward between runs, feed the sink's accumulated docs to
    :func:`~datamunging_spark.operators.dedup.advance_snapshot` batch-side
    (streaming writes to the snapshot it anti-joins would be a cycle).
    """
    from datamunging_spark.functions import normalize_text

    keyed = docs.withColumn(
        "_h", F.md5(F.coalesce(normalize_text(text_col), F.lit("")))
    )
    fresh = keyed.join(
        seen.select(F.col(hash_col).alias("_h")).distinct(),
        on="_h",
        how="left_anti",
    )
    return (
        fresh.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


# The span state's layout on the delta-log store: two append-only parts
# under the snapshot pair's zero-padded v{batch_id} directories, covered
# by the same commit marker as content/ and signatures/.
_SPAN_LAYOUT = dict(
    base=("span_fps", "span_texts"),
    delta=("span_fps_delta", "span_texts_delta"),
    replaced=None,
    width=20,
)


def _drain(stream: DataFrame, process, checkpoint_path, keep_last=None):
    """Run ``process(batch_df, batch_id)`` on every micro-batch of
    ``stream`` until the source is drained (``availableNow``), with the
    query checkpointed at ``checkpoint_path`` when given. The face's
    retention ``keep_last`` is checked before the query starts, so a bad
    value fails before any version is written."""
    check_keep_last(keep_last)
    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    q = writer.start()
    q.processAllAvailable()
    q.stop()


def streaming_ingest(
    docs_stream: DataFrame,
    snapshots=None,
    survivors_path: str | None = None,
    checkpoint_path: str | None = None,
    snapshots_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    span: bool = False,
    span_kwargs: dict | None = None,
    snapshots_keep_last: int | None = None,
    span_base_every: int | None = 64,
    **ingest_kwargs,
):
    """Continuous-ingest loop on Structured Streaming via ``foreachBatch``:
    every micro-batch runs the FULL exact+fuzzy
    :func:`~datamunging_spark.operators.dedup.ingest_batch` cycle against
    the current snapshots, appends its survivors to ``survivors_path``
    (parquet), and rolls the snapshots forward for the NEXT micro-batch —
    so near-duplicates are caught ACROSS micro-batches, which the
    bounded-watermark :func:`dedup_stream`/:func:`incremental_dedup_stream`
    state cannot do (their state evicts at the horizon; snapshots are the
    unbounded-history answer, and fuzzy matching needs the signature
    table either way).

    foreachBatch is the idiomatic bridge for batch-only logic (multi-stage
    joins, CC, roll-forward) inside a stream. Exactly-once caveat,
    documented rather than hidden: on failure/restart a micro-batch can
    re-run; the sink append may then duplicate that batch's survivors,
    but the DEDUP STATE stays correct because re-ingesting already-folded
    content yields zero survivors (the idempotence property
    test_advance_snapshot_closes_incremental_loop pins) — dedupe the sink
    on replay or front it with a transactional table format for
    end-to-end exactly-once.

    Runs with ``availableNow`` (drain-and-stop; the test-harness and
    backfill shape — swap the trigger for production continuous runs) and
    returns the final :class:`~datamunging_spark.operators.dedup.
    Snapshots` for persisting via ``write_snapshots``.

    **Restart durability**: when ``checkpoint_path`` is set, Structured
    Streaming SKIPS committed micro-batches on restart — so dedup state
    advanced only in driver memory would be silently lost for exactly
    those batches (their duplicates would pass forever). Set
    ``snapshots_path`` alongside it: each batch's roll-forward is
    persisted to ``{snapshots_path}/v{batch_id}`` (versioned —
    write_snapshots documents why self-overwrite is unsafe) and on start
    the LATEST version is loaded, overriding the ``snapshots`` argument,
    so the snapshot state and the streaming commit log advance together.
    Memory-only state (``snapshots_path=None``) keeps per-batch
    ``localCheckpoint`` pinning and is fine for availableNow drains that
    persist the RETURNED snapshots themselves.

    **Span stage** (``span=True``): after the exact+fuzzy cycle, each
    micro-batch's survivors are span-deduped against ALL prior
    micro-batches via
    :func:`~datamunging_spark.operators.spandedup.incremental_span_dedup`
    — history participates as a rolled-forward winnowing-fingerprint
    snapshot plus a slim (id, text) survivor table fetched per-candidate,
    mirroring how ``advance_snapshot`` rolls the hash/signature state.
    The fingerprint snapshot advances by the operator's ``_return_fps``
    increment (uncut docs' fingerprints reused; only cut docs
    re-winnowed). Ordering contract: the exact/fuzzy snapshots are
    advanced from the PRE-span-cut text (so a replay of an original
    document is still rejected by content hash), while the span state
    and the sink carry the CLEANED text — the keep-earliest rule across
    stages. ``span_kwargs`` forwards min_span/gram/valves. With
    ``snapshots_path`` set the span state is versioned alongside the
    snapshot pair (``span_fps/`` + ``span_texts/`` under the same
    ``v{batch_id}`` directory, covered by the same commit marker).
    Returns ``(snapshots, (span_fps, span_texts))`` when ``span=True``.

    **Span state is a delta log (r9)**: the span state is two
    append-only logs (``span_fps``, ``span_texts``) of the versioned
    delta-log store (``sources/versioned.py``, "Versioned delta-log
    store"). Most versions persist only the batch's increment
    (``span_*_delta`` — the operator's ``_return_fps`` fingerprint
    increment and the batch's cleaned survivors), so the per-fold write
    is batch-sized, not corpus-sized; the in-memory state between
    batches is the lazy union. A full base is compacted on the store's
    cadence, ``min(snapshots_keep_last, span_base_every)`` (default
    64): the head chain stays inside the retention window, and restart
    reload unions at most one base plus the deltas after it. Set both
    to None for a pure delta log (O(total folds) reload lineage).
    Between folds the chain length is carried in memory, so a fold
    without retention lists no versions. Old-layout stores, whose every
    version is a full base, reload unchanged.

    **Retention** (``snapshots_keep_last``): every version holds the
    full exact/fuzzy snapshot pair (slim) plus the span delta; set
    ``snapshots_keep_last=K`` to ``vacuum_table_versions`` after each
    commit, bounding disk at K × (slim state + batch increment) + one
    compacted span base per window (the same per-batch retention
    ``streaming_resolve`` applies to its history).
    """
    from datamunging_spark.operators.dedup import (
        Snapshots,
        ingest_batch,
        read_snapshots,
        write_snapshots,
    )
    from datamunging_spark.parallel import co_materialize

    cadence = base_cadence(
        snapshots_keep_last, span_base_every, "span_base_every"
    )
    log = (
        DeltaLog(snapshots_path, snapshots_keep_last, cadence, **_SPAN_LAYOUT)
        if snapshots_path is not None
        else None
    )
    spark = docs_stream.sparkSession
    # "span": the (fps, texts) state or None; "chain": the span log's
    # head chain length, carried from the last read or write
    state = {
        "snaps": snapshots if snapshots is not None else Snapshots(None, None),
        "span": None,
        "chain": 0,
    }

    def _load(sess, version):
        state["snaps"] = read_snapshots(sess, log.vdir(version))
        if span:
            state["span"], state["chain"] = log.read(sess, version)

    if log is not None:
        latest = latest_table_version(spark, snapshots_path)
        if latest is not None:
            _load(spark, latest)

    def _span_pass(surv, bspark):
        """Span-dedup the batch survivors against all prior micro-batches;
        returns the cleaned survivors and the batch's (fps, texts)
        increment. Bootstrap (no history yet) uses EMPTY history frames
        so the one operator covers both cases (its empty-side behavior is
        pinned by test_incremental_span_empty_sides)."""
        from datamunging_spark.operators.spandedup import (
            incremental_span_dedup,
        )

        hist = state["span"]
        if hist is None:
            id_field = surv.schema[id_col]
            hist = (
                bspark.createDataFrame(
                    [],
                    StructType(
                        [
                            id_field,
                            StructField("fp", LongType()),
                            StructField("pos", IntegerType()),
                        ]
                    ),
                ),
                bspark.createDataFrame(
                    [], StructType([id_field, surv.schema[text_col]])
                ),
            )
        cleaned, fps_inc = incremental_span_dedup(
            surv, *hist,
            text_col=text_col, id_col=id_col,
            _return_fps=True, **dict(span_kwargs or {}),
        )
        cleaned = cleaned.localCheckpoint()  # feeds sink + texts roll
        # materialize the fp increment once: it feeds the in-memory fold
        # AND the per-version delta write
        fps_inc = fps_inc.localCheckpoint()
        return cleaned, (fps_inc, cleaned.select(id_col, text_col))

    def _process(batch_df, batch_id):
        bspark = batch_df.sparkSession
        if log is not None and version_committed(bspark, log.vdir(batch_id)):
            # replay of a batch whose state commit survived a crash
            # (crash landed between the snapshot write and the streaming
            # commit): state is already durable, and the survivor-sink
            # append for this batch already happened — re-running would
            # duplicate the sink AND self-overwrite the version this
            # run's state was loaded from (overwrite deletes input files
            # mid-scan). Full no-op.
            _load(bspark, batch_id)
            return
        if not batch_df.head(1):
            return
        surv, snaps = ingest_batch(
            batch_df,
            state["snaps"],
            text_col,
            id_col,
            threshold=threshold,
            **ingest_kwargs,
        )
        if span:
            surv, inc = _span_pass(surv, bspark)
        if survivors_path is not None:
            surv.write.mode("append").parquet(survivors_path)
        if log is not None:
            # the commit marker comes last: write_snapshots writes
            # content/ then signatures/ non-atomically, and loading a
            # torn version would silently drop the fuzzy-dedup history
            vdir = log.vdir(batch_id)
            write_snapshots(snaps, vdir)
            if span:
                # the store writes the span parts, then the commit
                # marker (after content/ and signatures/), then vacuums
                state["span"], state["chain"] = log.write(
                    bspark, batch_id, state["chain"], state["span"], inc
                )
            else:
                mark_committed(bspark, vdir)
                if snapshots_keep_last is not None:
                    vacuum_table_versions(
                        bspark, snapshots_path, snapshots_keep_last
                    )
            state["snaps"] = read_snapshots(bspark, vdir)
        else:
            # the per-batch state pins are independent materializations
            # — overlapped (guide §2.6) to cut the micro-batch's serial
            # job chain; pure localCheckpoints, no disk state machine
            thunks = [
                snaps.content.localCheckpoint,
                snaps.signatures.localCheckpoint,
            ]
            if span:
                state["span"] = apply_delta(state["span"], inc)
                thunks += [f.localCheckpoint for f in state["span"]]
            done = co_materialize(*thunks)
            state["snaps"] = Snapshots(done[0], done[1])
            if span:
                state["span"] = tuple(done[2:])

    _drain(docs_stream, _process, checkpoint_path, snapshots_keep_last)
    if span:
        return state["snaps"], state["span"] or (None, None)
    return state["snaps"]


def streaming_phash_ingest(
    media_stream: DataFrame,
    hash_snapshot: DataFrame | None = None,
    survivors_path: str | None = None,
    checkpoint_path: str | None = None,
    snapshot_path: str | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    bands: int = 4,
    gray_decoder=None,
    keep_last: int | None = None,
) -> DataFrame:
    """Continuous MEDIA ingest on Structured Streaming — the multimodal
    leg of :func:`streaming_ingest`: every micro-batch runs
    :func:`~datamunging_spark.operators.multimodal.incremental_phash_dedup`
    against the current dHash snapshot (so image near-dups are caught
    ACROSS micro-batches), appends its survivors to ``survivors_path``
    (parquet), and rolls the snapshot forward for the NEXT batch. The
    state is (id, 8-byte hash) per ever-ingested image — the family's
    slimmest, so unlike the exact+fuzzy+span loop it needs no delta
    log: each fold persists the full snapshot (one slim rewrite).

    Ordering matches streaming_ingest's exactly-once stance: the sink
    append lands BEFORE the snapshot version, so a crash between the
    two can duplicate a batch's survivors on replay but never lose them
    — and the DEDUP state stays correct either way, because
    re-ingesting already-folded payloads yields zero survivors
    (hamming-0 self-match; pinned by the two-batch idempotence test).

    **Restart durability**: with ``checkpoint_path`` set, committed
    micro-batches are skipped on restart — pair it with
    ``snapshot_path`` (a :mod:`sources.versioned` store: version =
    batch_id + 1, overwrite-idempotent, commit-markered) so the hash
    state advances with the commit log; on start the latest committed
    version overrides ``hash_snapshot``. A replayed batch whose version
    already committed is a FULL NO-OP (state reloads from the committed
    version) — re-running it would duplicate the sink and self-overwrite
    the version the run's state reads from (the r12 review reproduced
    that as a restart crash that gutted the committed version). Corollary
    contract, shared with streaming_ingest: ``snapshot_path`` is coupled
    to ONE checkpoint lineage — versions are keyed by batch id, so
    pointing a fresh checkpoint at an existing store replays as no-ops.
    ``keep_last`` vacuums old versions after each fold. Runs with
    ``availableNow`` (drain-and-stop); returns the final snapshot for
    external persistence when ``snapshot_path`` is None
    (localCheckpoint-pinned in that mode)."""
    from datamunging_spark.operators.multimodal import (
        incremental_phash_dedup,
        phash_df,
    )
    from datamunging_spark.sources.versioned import (
        read_table_version,
        write_table_version,
    )

    spark = media_stream.sparkSession
    start = hash_snapshot
    if snapshot_path is not None:
        latest = latest_table_version(spark, snapshot_path)
        if latest is not None:
            start = read_table_version(spark, snapshot_path, latest)
    state = {"snap": start}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if snapshot_path is not None:
            vpath = f"{snapshot_path}/v{int(batch_id) + 1}"
            if version_committed(spark, vpath):
                # replay of a batch whose snapshot version committed
                # (crash landed between the snapshot write and the
                # streaming commit): the state is already durable and
                # the survivor append already happened — re-running
                # would duplicate the sink AND self-overwrite the
                # version this run's state was loaded from (overwrite
                # deletes input files mid-scan — reproduced by the r12
                # review as a restart crash that then GUTTED the
                # committed version). Full no-op, the streaming_ingest
                # contract.
                state["snap"] = read_table_version(
                    spark, snapshot_path, int(batch_id) + 1
                )
                return
        if not batch_df.head(1):
            # empty micro-batch: nothing to dedup, and a version write
            # would rewrite the entire unchanged snapshot (and, with
            # keep_last, vacuum a REAL older version for an identical
            # copy)
            return
        snap = state["snap"]
        if snap is None:
            # typed empty snapshot: first fold is pure within-batch dedup
            snap = phash_df(
                batch_df.limit(0), id_col=id_col,
                payload_col=payload_col, gray_decoder=gray_decoder,
            )
        surv, surv_sh = incremental_phash_dedup(
            batch_df, snap,
            max_hamming=max_hamming, bands=bands, id_col=id_col,
            payload_col=payload_col, gray_decoder=gray_decoder,
            _return_survivor_hash=True,
        )
        if survivors_path is not None:
            surv.write.mode("append").parquet(survivors_path)
        new_snap = snap.unionByName(surv_sh)
        if snapshot_path is not None:
            write_table_version(
                new_snap, snapshot_path, int(batch_id) + 1,
                batch_id=int(batch_id),
            )
            new_snap = read_table_version(
                spark, snapshot_path, int(batch_id) + 1
            )
            if keep_last is not None:
                vacuum_table_versions(spark, snapshot_path, keep_last)
        else:
            new_snap = new_snap.localCheckpoint()
        state["snap"] = new_snap

    _drain(media_stream, _process, checkpoint_path, keep_last)
    return state["snap"]


def streaming_resolve(
    records_stream: DataFrame,
    history: DataFrame,
    id_col: str,
    block_key,
    payload: list[str],
    match_cond,
    resolved_path: str | None = None,
    checkpoint_path: str | None = None,
    history_path: str | None = None,
    history_keep_last: int = 2,
    entity_col: str = "entity_id",
    max_block: int | None = 10_000,
) -> DataFrame:
    """Continuous entity resolution via ``foreachBatch`` — the ER face of
    :func:`streaming_ingest`: each micro-batch runs
    :func:`~datamunging_spark.operators.entity.incremental_resolve`
    against the rolling resolved history, appends the labeled batch to
    ``resolved_path`` (parquet, ``n_hist_matches`` kept for the
    merge-review queue), and folds it into the history for the NEXT
    micro-batch — so a record arriving later than its entity-mates still
    adopts their entity, beyond any watermark horizon.

    **Compaction (bounded state)**: only records whose ``id_col`` is NOT
    already historied are folded in (slim-id anti-join, first-wins) — so
    re-ingested/replayed records never grow the history; its row count is
    bounded by DISTINCT record ids, not by stream volume. Labels stay
    correct either way (re-resolving a historied record adopts its own
    entity — pinned by test_incremental_resolve_idempotent_reingest);
    first-wins means a same-id record arriving with a CHANGED payload
    does not update the historied copy (ER history is a label registry,
    not a CDC table — route payload updates through apply_changelog).

    **Durability**: with ``history_path`` set, each batch's compacted
    history is committed to the versioned store (sources/versioned —
    commit markers, MONOTONIC ``latest+1`` numbering so versions never
    collide across restarts, per-version ``_CDC_BATCH_{id}`` replay
    tags), the LATEST version is loaded on start (overriding the
    ``history`` argument), a batch whose tag is already committed is a
    full no-op (crash-replay; tags survive vacuum via the root
    ``_CDC_BATCHES`` manifest), and versions older than
    ``history_keep_last`` are vacuumed each batch — the same retention
    story ``advance_snapshot``/``vacuum_table_versions`` gave dedup.
    Memory-only (``history_path=None``) keeps per-batch
    ``localCheckpoint`` pinning — the availableNow drain/backfill shape.
    Returns the final history. Caveat (same as streaming_ingest): replay
    tags key on batch_id, so a ``history_path`` belongs to ONE logical
    stream+checkpoint lineage — pointing a brand-new stream (fresh
    checkpoint, genuinely new data, batch ids restarting at 0) at an old
    history store would no-op its first batches; use a fresh
    history_path or keep the checkpoint.
    """
    from datamunging_spark.operators.entity import incremental_resolve
    from datamunging_spark.sources.versioned import (
        batch_already_applied,
        read_table_version,
        write_table_version,
    )

    spark = records_stream.sparkSession
    start = history
    if history_path is not None:
        if latest_table_version(spark, history_path) is not None:
            start = read_table_version(spark, history_path)
    state = {"hist": start.localCheckpoint()}

    def _process(batch_df, batch_id):
        bspark = batch_df.sparkSession
        if history_path is not None and batch_already_applied(
            bspark, history_path, batch_id
        ):
            # replay of a batch whose history commit survived a crash
            # (crash between the version commit and the streaming
            # commit): state is durable, the sink append already
            # happened — full no-op, same contract as streaming_ingest
            state["hist"] = read_table_version(bspark, history_path)
            return
        if not batch_df.head(1):
            return
        resolved = incremental_resolve(
            batch_df,
            state["hist"],
            id_col,
            block_key,
            payload,
            match_cond,
            entity_col=entity_col,
            max_block=max_block,
        ).localCheckpoint()
        if resolved_path is not None:
            resolved.write.mode("append").parquet(resolved_path)
        fresh = resolved.drop("n_hist_matches").join(
            state["hist"].select(id_col), id_col, "left_anti"
        )
        new_hist = state["hist"].unionByName(fresh)
        if history_path is not None:
            v = (latest_table_version(bspark, history_path) or 0) + 1
            write_table_version(
                new_hist, history_path, v, batch_id=batch_id
            )
            state["hist"] = read_table_version(bspark, history_path, v)
            vacuum_table_versions(
                bspark, history_path, keep_last=history_keep_last
            )
        else:
            state["hist"] = new_hist.localCheckpoint()

    _drain(records_stream, _process, checkpoint_path, history_keep_last)
    return state["hist"]


def streaming_apply_changelog(
    changes_stream: DataFrame,
    table_path: str,
    keys: list[str],
    version_col: str,
    op_col: str | None = None,
    checkpoint_path: str | None = None,
) -> int | None:
    """Continuous CDC materialization via ``foreachBatch``: each
    micro-batch of changelog rows rolls the versioned parquet table at
    ``table_path`` forward one committed version — a thin wrapper over
    sources/versioned.roll_table_version (latest-wins window over the
    BATCH only + one merge join against the current version), so batch
    and streaming rolls share one implementation. A CDC stream in, an
    always-readable sequence of immutable table versions out.

    Replay safety: every committed version carries a ``_CDC_BATCH_{id}``
    tag written BEFORE its commit marker; a replayed micro-batch (crash
    landed between the version commit and the stream checkpoint commit)
    finds its tag on a committed version and no-ops instead of
    double-applying. Version numbers are always latest+1 — recomputed
    per batch from the store, never derived from batch ids — so second
    drains against an existing checkpoint, restarts, and empty batches
    (skipped, no number consumed) all stay contiguous. A crash before
    the commit marker leaves a torn, invisible directory the retry
    overwrites.

    Drains with ``availableNow`` (the backfill/batch-drain shape used by
    the other streaming loops here); returns the latest committed version
    after the drain (None when the stream carried no data and the store
    is empty).
    """
    from datamunging_spark.sources.versioned import (
        batch_already_applied,
        roll_table_version,
    )

    spark = changes_stream.sparkSession

    def _process(batch_df, batch_id):
        if not batch_df.head(1):
            return
        bspark = batch_df.sparkSession
        if batch_already_applied(bspark, table_path, batch_id):
            return
        roll_table_version(
            bspark,
            table_path,
            batch_df,
            keys,
            version_col,
            op_col=op_col,
            batch_id=batch_id,
        )

    _drain(changes_stream, _process, checkpoint_path)
    return latest_table_version(spark, table_path)


def _versioned_stream_fold(
    values_stream: DataFrame,
    table_path: str,
    fold,
    checkpoint_path: str | None,
    keep_last: int,
    skip_applied: bool,
) -> int | None:
    """Shared ``foreachBatch`` scaffold for the fold-into-versioned-store
    streaming operators (rollup / heavy hitters / distinct counts):
    empty-batch guard → load latest committed state → ``fold(state_or_
    None, batch_df)`` → commit as version latest+1 → vacuum to
    ``keep_last`` → availableNow drain → return the latest version. One
    home for the exactly-once contract, so an ordering fix lands once.

    ``skip_applied`` encodes the fold's replay algebra:

    - ``True`` (NON-idempotent folds — rollup sums, MG merges): every
      version carries its micro-batch tag and a replayed batch id
      no-ops, because re-folding would double-count. Required, and
      carries the documented residual risk: after a LOST checkpoint the
      new query renumbers batches from 0, and a low batch id covering
      NEW data will be skipped as "already applied".
    - ``False`` (IDEMPOTENT folds — HLL union, where re-union is the
      identity): replayed batches are RE-FOLDED instead of skipped and
      versions are written untagged. Estimates are unchanged on true
      replays, and the checkpoint-loss case above folds the new data
      instead of silently dropping it — strictly safer, available only
      because the fold is idempotent.
    """
    from datamunging_spark.sources.versioned import (
        batch_already_applied,
        read_table_version,
        write_table_version,
    )

    spark = values_stream.sparkSession

    def _process(batch_df, batch_id):
        if not batch_df.head(1):
            return
        bspark = batch_df.sparkSession
        if skip_applied and batch_already_applied(
            bspark, table_path, batch_id
        ):
            return
        latest = latest_table_version(bspark, table_path)
        state = (
            read_table_version(bspark, table_path, latest)
            if latest is not None
            else None
        )
        folded = fold(state, batch_df)
        write_table_version(
            folded,
            table_path,
            (latest or 0) + 1,
            batch_id=batch_id if skip_applied else None,
        )
        vacuum_table_versions(bspark, table_path, keep_last=keep_last)

    _drain(values_stream, _process, checkpoint_path, keep_last)
    return latest_table_version(spark, table_path)


def streaming_rollup(
    events_stream: DataFrame,
    table_path: str,
    ts_col: str,
    bucket: str,
    aggs: dict,
    keys: list | None = None,
    checkpoint_path: str | None = None,
    keep_last: int = 2,
) -> int | None:
    """Continuous-aggregate materialization via ``foreachBatch``: each
    micro-batch folds into the stored time-bucketed rollup with
    :func:`~datamunging_spark.operators.relational.incremental_rollup`
    (mergeable sum/count/min/max decomposition — only the batch
    aggregates; event history is never rescanned) and commits the merged
    rollup as the next version of the versioned store at ``table_path``.
    The batch face and this streaming face share one fold implementation,
    exactly like streaming_apply_changelog wraps roll_table_version.

    Exactly-once: incremental_rollup's fold is NOT replay-idempotent
    (re-folding double-counts sums), so every committed version carries
    its micro-batch tag and a replayed batch no-ops — the
    ``batch_already_applied`` contract, durable across vacuum via the
    root manifest. Versions are monotonic latest+1; retired versions are
    vacuumed to ``keep_last`` each commit. Drains with ``availableNow``;
    returns the latest committed version (None for an empty drain on an
    empty store). Read the current rollup with ``read_table_version``.
    """
    from datamunging_spark.operators.relational import incremental_rollup

    return _versioned_stream_fold(
        events_stream,
        table_path,
        lambda state, batch: incremental_rollup(
            state, batch, ts_col, bucket, aggs, keys=keys
        ),
        checkpoint_path,
        keep_last,
        skip_applied=True,  # sum/count folds double-count on re-apply
    )


def streaming_heavy_hitters(
    values_stream: DataFrame,
    col: str,
    table_path: str,
    k: int = 4096,
    keys: list | None = None,
    checkpoint_path: str | None = None,
    keep_last: int = 2,
) -> int | None:
    """Continuous frequent-items maintenance via ``foreachBatch``: each
    micro-batch is summarized by the Misra-Gries build of
    :mod:`~datamunging_spark.operators.sketch` (one Arrow pass, ≤ k
    counters per key group per partition) and folded into the stored
    summary with the Agarwal merge (summary-sized work only; the stored
    state stays ≤ k counter rows + 2 meta rows per key group, so
    per-batch cost is batch-scan + an O(k) merge no matter how long the
    stream has run). The mergeable-summaries bounds survive every fold:
    the 'dec' meta row carries the exact error budget, so
    :func:`~datamunging_spark.operators.sketch.hh_report` over any
    committed version brackets the TRUE stream-so-far counts.

    ``keys`` switches to the PER-KEY profile ("top domains per language
    over the whole stream") — the same fold with the summary keyed by
    ``keys``; render with ``grouped_hh_report``. The stored layout is
    ``(keys..., meta, value, cnt)`` either way.

    Exactly-once mirrors :func:`streaming_rollup`: the fold is not
    replay-idempotent (re-folding double-counts), so each committed
    version carries its micro-batch tag and a replayed batch no-ops;
    versions vacuum to ``keep_last``. Drains with ``availableNow``;
    returns the latest committed version. Read the current report with
    ``hh_report(read_table_version(spark, table_path))``.
    """
    from datamunging_spark.operators.sketch import (
        _check_q_keys,
        _hh_merge,
        _hh_summary,
    )

    keys = list(keys or [])
    if keys:
        _check_q_keys(keys)
    fold = lambda state, batch: _hh_merge(  # noqa: E731
        _hh_summary(batch, keys, col, k), state, keys, k
    )
    return _versioned_stream_fold(
        values_stream,
        table_path,
        fold,
        checkpoint_path,
        keep_last,
        skip_applied=True,  # MG counter merges double-count on re-apply
    )


def streaming_distinct_counts(
    values_stream: DataFrame,
    keys: list,
    col: str,
    table_path: str,
    lgk: int = 12,
    checkpoint_path: str | None = None,
    keep_last: int = 2,
) -> int | None:
    """Continuous per-key distinct-count maintenance via ``foreachBatch``:
    each micro-batch is sketched with
    :func:`~datamunging_spark.operators.sketch.distinct_sketch` (one
    hash aggregate; HLL partials merged map-side) and unioned into the
    stored per-key sketch state with
    :func:`~datamunging_spark.operators.sketch.merge_distinct_sketches`
    — so "distinct users per domain over the whole stream" costs
    batch-scan + a state-sized merge per batch, with state bounded at
    keys × 2^lgk bytes forever and NO rescan of history (DataSketches
    HLL union == the sketch of the union, so folds lose nothing).

    Replay semantics differ from :func:`streaming_rollup` ON PURPOSE:
    HLL union is IDEMPOTENT (re-unioning a batch's sketch is the
    identity), so replayed batches are RE-FOLDED rather than skipped
    (``skip_applied=False`` — versions written untagged). Estimates are
    unchanged on true replays, and after a LOST checkpoint — where a
    fresh query renumbers batches and a low batch id can cover NEW
    files — the new data is folded instead of silently dropped by a
    stale "already applied" tag, the data-loss window the
    non-idempotent folds cannot avoid. The only cost is extra version
    numbers on replay, bounded by vacuum. Drains with ``availableNow``;
    returns the latest committed version. Render the current counts
    with ``distinct_estimate(read_table_version(...))``.
    """
    from datamunging_spark.operators.sketch import (
        distinct_sketch,
        merge_distinct_sketches,
    )

    return _versioned_stream_fold(
        values_stream,
        table_path,
        lambda state, batch: merge_distinct_sketches(
            distinct_sketch(batch, keys, col, lgk), state, keys
        ),
        checkpoint_path,
        keep_last,
        skip_applied=False,  # HLL union is idempotent: re-fold, never skip
    )


def read_index_version(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    id_col: "str | list[str]" = "doc_id",
) -> DataFrame:
    """Reconstruct the postings table as of a committed version of a
    :func:`streaming_index_ingest` store (default: latest) — the replay
    of the versioned delta-log store (``sources/versioned.py``): the
    newest full base at or before the version, then each later delta in
    order (anti-join its ``replaced_ids``, NULL-safe per key column;
    union its ``postings_delta``). The result equals the full table a
    rewrite-per-version store would hold. Old-layout stores (every
    version a full base) reduce to 'read the requested version'. The
    head is always readable; a retained delta older than the newest base
    may have lost its base to vacuum, and such a read raises
    FileNotFoundError with the keep_last guidance rather than return a
    partial index. ``id_col`` is kept for callers that name the store's
    key: the replay keys on the columns each delta recorded in
    ``replaced_ids`` (``[group_col, id_col]`` on grouped stores)."""
    return DeltaLog(table_path).read(spark, version)[0][0]


def streaming_index_ingest(
    docs_stream: DataFrame,
    table_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    checkpoint_path: str | None = None,
    keep_last: int = 2,
    version_col: str | None = None,
    stats: bool = True,
    base_every: int | None = 64,
    positions: bool = False,
    group_col: str | None = None,
) -> int | None:
    """Continuous inverted-index maintenance via ``foreachBatch`` — the
    lexical-retrieval leg of the versioned-fold family: each micro-batch
    of documents is signed with
    :func:`~datamunging_spark.operators.retrieval.inverted_index` (ONE
    batch-sized aggregate; history never rescanned) and rolled onto the
    stored postings table with the
    :func:`~datamunging_spark.operators.retrieval.advance_index`
    ``replace_ids=True`` fold — so the searchable index is always one
    :func:`read_index_version` away, Lucene's segment-merge freshness
    model on the versioned store.

    **The store is a delta log (r13)** on the versioned delta-log store
    (``sources/versioned.py``, "Versioned delta-log store"): most folds
    persist only the batch's increment (``postings_delta`` +
    ``replaced_ids`` under the version directory), so a month of
    micro-batches costs a month of batch-sized deltas, not a month of
    full index rewrites. A full base (the version directory as plain
    parquet, the pre-r13 layout) is compacted on the store's cadence,
    ``min(keep_last, base_every)``: ``keep_last=2``, the default,
    alternates base/delta, and ``base_every`` (default 64) bounds the
    replay lineage on top of the retention term, which is never
    optional here. Read the head with :func:`read_index_version`.

    ``replace_ids=True`` is what makes the fold REPLAY-IDEMPOTENT (the
    streaming_distinct_counts algebra, ``skip_applied=False``): a
    re-folded batch first anti-joins its own doc ids out of the state,
    so re-applying is the identity — and updated documents in a later
    batch supersede their old postings for free, which append-only
    folds cannot offer. After a lost checkpoint, replayed-or-new
    batches fold correctly instead of being dropped by a stale tag.

    replace_ids supersedes ACROSS batches only — two rows for the same
    doc id WITHIN one micro-batch would both survive the batch's
    (term, doc) aggregate and silently corrupt the index (df/stats
    double-count the doc, BM25 sums stale + new text into one score).
    So within-batch id collisions FAIL FAST by default; pass
    ``version_col`` (a CDC-style monotonic version on the stream) to
    resolve them last-wins instead — ties on the version break on a
    content digest so the winner is deterministic under any
    partitioning. KNOWN GAP, by design: ``version_col`` arbitrates
    WITHIN a micro-batch only — the stored postings carry no version,
    so a stale version arriving in a LATER micro-batch still replaces
    the newer text (last-batch-wins). Per-key-ordered sources (Kafka
    keyed by doc id, Delta CDF) satisfy this for free; for genuinely
    unordered streams route updates through
    ``streaming_apply_changelog`` (which stores and compares versions)
    and rebuild/fold the index from its materialized table.

    **Stats ride the fold** (``stats=True``, default): a one-row
    (n_docs, total_len, avgdl) table is folded through its OWN
    versioned store at ``{table_path}_stats`` — same version numbers
    as the postings store, vacuumed on the same cadence — via the
    :func:`~datamunging_spark.operators.retrieval.combine_index_stats`
    algebra: add the batch's searchable stats, subtract the replaced
    docs' (derived from the history postings' slim (doc, doc_len)
    grain, so the subtraction is always exact and replay re-folds to
    the identity). The maintained invariant is ``stats ==
    stats_from_postings(postings)`` at every version — O(1) to read at
    query time, no index-grain rescan per refresh, and consistent with
    the searchable-corpus convention (zero-term docs invisible; an
    empty-text update under ``replace_ids`` is a DELETE, see
    :func:`~datamunging_spark.operators.retrieval.advance_index`, and
    the subtraction accounts for it automatically). Query the current
    version ANCHORED on the postings head — the stats version commits
    before its postings version, so a crash between the two can leave
    the stats store one version ahead until the replay rewrites it;
    always pass the postings version explicitly::

        v = latest_table_version(spark, table_path)
        bm25_topk(read_index_version(spark, table_path, v), queries,
                  read_table_version(spark, table_path + "_stats", v))

    With
    ``stats=False`` only postings are versioned and the query path
    falls back to
    :func:`~datamunging_spark.operators.retrieval.stats_from_postings`
    (a full index-grain distinct per refresh — fine interactively,
    wasteful in a refresh loop, and the reason ``stats`` defaults on).

    ``positions=True`` maintains a POSITIONAL index (the
    ``inverted_index(..., positions=True)`` layout) so ``phrase_topk``
    / ``near_topk`` / ``hit_windows`` answer straight from the
    streamed store: the flag matters only for the FIRST base — every
    later fold detects positionality from the stored schema (the
    ``advance_index`` contract), so an existing store can never be
    silently degraded by a mismatched flag. Stats are unaffected
    (``doc_len`` rides positional postings too).

    ``group_col`` maintains a GROUPED store (per-language streamed
    corpora — doc ids unique within their group, NULL a real group):
    folds sign and replace at (group, id) grain (the delta replay's
    anti-join is NULL-safe per key), within-batch collisions are
    judged per (group, id), and the stats store holds one row PER
    GROUP folded by the same add/subtract algebra (union + one
    groups-sized aggregate instead of the one-row crossJoin form).
    Read the head with ``read_index_version(...,
    id_col=[group_col, id_col])`` and query it with the grouped
    :func:`~datamunging_spark.operators.retrieval.bm25_topk` face;
    the stats version pairs the same way. Drains with
    ``availableNow``; returns the latest committed version."""
    from pyspark.sql import Window

    from datamunging_spark.operators.retrieval import (
        combine_index_stats,
        inverted_index,
        stats_from_postings,
    )
    from datamunging_spark.sources.versioned import (
        read_table_version,
        write_table_version,
    )

    stats_path = f"{table_path}_stats"
    gb = [group_col] if group_col else []

    def _resolve_batch(batch):
        if version_col is not None:
            w = Window.partitionBy(*gb, id_col).orderBy(
                F.col(version_col).desc(),
                F.md5(F.coalesce(F.col(text_col), F.lit(""))).desc(),
            )
            return (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        dup = (
            batch.groupBy(*gb, id_col)
            .count()
            .filter(F.col("count") > 1)
            .head(1)
        )
        if dup:
            key = f"({group_col}, {id_col})" if group_col else id_col
            vals = tuple(dup[0])[:-1]
            vals = vals[0] if len(vals) == 1 else vals
            raise ValueError(
                f"streaming_index_ingest: micro-batch carries multiple "
                f"rows for {key}={vals!r} — within-batch "
                "collisions corrupt the (term, doc) grain; pass "
                "version_col= for last-wins resolution or dedup the "
                "stream upstream"
            )
        return batch

    def _replaced_slim(state, batch):
        """The (group,) doc, doc_len rows of history docs the batch
        replaces — NULL-safe on the group via the encoded key."""
        if not group_col:
            return (
                state.join(
                    F.broadcast(batch.select(id_col).distinct()),
                    id_col,
                    "semi",
                )
                .select(id_col, "doc_len")
                .distinct()
            )
        from datamunging_spark.operators.retrieval import _gkey

        keyed = state.withColumn("_bk", _gkey(group_col))
        ids = F.broadcast(
            batch.select(
                _gkey(group_col).alias("_bk"), F.col(id_col)
            ).distinct()
        )
        return (
            keyed.join(ids, ["_bk", id_col], "semi")
            .select(group_col, id_col, "doc_len")
            .distinct()
        )

    def _fold_stats(bspark, state, batch, next_v):
        """Commit stats version ``next_v`` BEFORE the postings store
        commits the same version number. Everything here is batch-sized
        or group-rows-sized except the replaced-docs subtraction, a
        column-pruned (doc, doc_len) semi-join pass over the history
        postings."""
        batch_stats = stats_from_postings(
            inverted_index(
                batch, text_col, id_col, lowercase, group_col=group_col
            ),
            id_col,
            group_col=group_col,
        )
        if state is None:
            new_stats = batch_stats
        else:
            prev_v = next_v - 1
            if version_committed(bspark, f"{stats_path}/v{prev_v}"):
                old_stats = read_table_version(
                    bspark, stats_path, prev_v
                )
            else:  # store predates stats=True: derive once, fold after
                old_stats = stats_from_postings(
                    state, id_col, group_col=group_col
                )
            replaced = _replaced_slim(state, batch)
            if group_col:
                # grouped algebra: negate per group, then one
                # groups-sized union aggregate re-derives avgdl —
                # exact long sums, the combine_index_stats property
                negated = replaced.groupBy(group_col).agg(
                    (-F.count(F.lit(1))).alias("n_docs"),
                    (-F.coalesce(F.sum("doc_len"), F.lit(0)))
                    .cast("long")
                    .alias("total_len"),
                    F.lit(None).cast("double").alias("avgdl"),
                )
                new_stats = (
                    old_stats.unionByName(negated)
                    .unionByName(batch_stats)
                    .groupBy(group_col)
                    .agg(
                        F.sum("n_docs").cast("long").alias("n_docs"),
                        F.sum("total_len")
                        .cast("long")
                        .alias("total_len"),
                    )
                    .filter(F.col("n_docs") > 0)
                    .withColumn(
                        "avgdl",
                        F.col("total_len").cast("double")
                        / F.col("n_docs").cast("double"),
                    )
                )
            else:
                negated = replaced.agg(
                    (-F.count(F.lit(1))).alias("n_docs"),
                    (-F.coalesce(F.sum("doc_len"), F.lit(0)))
                    .cast("long")
                    .alias("total_len"),
                    F.lit(None).cast("double").alias("avgdl"),
                )
                new_stats = combine_index_stats(
                    combine_index_stats(old_stats, negated), batch_stats
                )
        write_table_version(new_stats, stats_path, next_v)
        vacuum_table_versions(bspark, stats_path, keep_last=keep_last)

    def _process(batch_df, batch_id):
        if not batch_df.head(1):
            return
        bspark = batch_df.sparkSession
        latest = latest_table_version(bspark, table_path)
        parts, chain = (
            log.read(bspark, latest) if latest is not None else (None, 0)
        )
        state = parts[0] if parts is not None else None
        if state is not None:
            # the grouped face is schema-authoritative like positions/
            # field/pq_codes: a flag flip cannot silently degrade an
            # existing store (the doc_id-only anti-join would delete
            # across groups and the base rewrite would drop the group
            # column)
            known = {
                "term", id_col, "tf", "doc_len", "positions",
            } | ({group_col} if group_col else set())
            extra = sorted(set(state.columns) - known)
            if group_col and group_col not in state.columns:
                raise ValueError(
                    f"streaming_index_ingest: group_col={group_col!r} "
                    "given but the store has no such column — it is "
                    "not a grouped store (or was built with a "
                    "different group column)"
                )
            if extra:
                if "field" in extra:
                    raise ValueError(
                        f"streaming_index_ingest: the store carries "
                        f"column(s) {extra} — this is a FIELDED index "
                        "(fielded_index layout), not an ingest store; "
                        "this fold maintains plain inverted_index "
                        "stores only"
                    )
                raise ValueError(
                    f"streaming_index_ingest: the store carries "
                    f"column(s) {extra} this fold does not understand "
                    "— a GROUPED store needs the same group_col= it "
                    "was built with; otherwise the path points at a "
                    "table with a different layout than this fold "
                    "writes"
                )
        batch = _resolve_batch(batch_df)
        next_v = (latest or 0) + 1
        if stats:
            _fold_stats(bspark, state, batch, next_v)
        # positionality: the flag decides the FIRST base; afterwards
        # the stored schema is authoritative, so a flag flip cannot
        # degrade an existing store
        pos = (
            "positions" in state.columns if state is not None
            else positions
        )
        log.write(
            bspark,
            next_v,
            chain,
            parts,
            (
                inverted_index(
                    batch, text_col, id_col, lowercase, positions=pos,
                    group_col=group_col,
                ),
            ),
            batch.select(*gb, F.col(id_col)).distinct(),
        )

    log = DeltaLog(table_path, keep_last, base_cadence(keep_last, base_every))
    _drain(docs_stream, _process, checkpoint_path, keep_last)
    return latest_table_version(docs_stream.sparkSession, table_path)


def load_ivf_index(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
):
    """Reassemble the :class:`~datamunging_spark.operators.similarity.
    IvfIndex` as of a committed version of a :func:`streaming_ivf_ingest`
    store (default: latest): the inverted lists reconstruct through
    :func:`read_index_version` (same delta-log replay, keyed on
    ``neighbor_id`` and, in a grouped store, the group), the frozen
    centroids + drift baseline through the
    ``{table_path}_centers`` table (one bounded collect). Centroids are
    FROZEN for the store's lifetime, so any assigned version pairs with
    the one centers version."""
    from datamunging_spark.operators.similarity import (
        ivf_index_from_tables,
    )
    from datamunging_spark.sources.versioned import read_table_version

    cpath = f"{table_path}_centers"
    cv = latest_table_version(spark, cpath)
    if cv is None:
        raise FileNotFoundError(
            f"no committed centers table under {cpath} — not a "
            "streaming_ivf_ingest store (or the first fold never ran)"
        )
    return ivf_index_from_tables(
        read_index_version(spark, table_path, version),
        read_table_version(spark, cpath, cv),
    )


def load_pq_codebook(spark: SparkSession, table_path: str):
    """The frozen :class:`~datamunging_spark.operators.similarity.
    PqCodebook` of a :func:`streaming_ivf_ingest` store built with
    ``codebook_m`` (persisted relationally at
    ``{table_path}_codebook``). Pair with :func:`load_ivf_index` —
    the store's ``pq_codes`` column plus this codebook is the full
    ``ivf_pq_topk`` serving layout."""
    from datamunging_spark.operators.similarity import (
        pq_codebook_from_table,
    )
    from datamunging_spark.sources.versioned import read_table_version

    cbpath = f"{table_path}_codebook"
    cbv = latest_table_version(spark, cbpath)
    if cbv is None:
        raise FileNotFoundError(
            f"no committed codebook under {cbpath} — the store was "
            "not built with codebook_m"
        )
    return pq_codebook_from_table(
        read_table_version(spark, cbpath, cbv)
    )


def streaming_ivf_ingest(
    vec_stream: DataFrame,
    table_path: str,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_path: str | None = None,
    keep_last: int = 2,
    base_every: int | None = 64,
    n_clusters: int = 16,
    seed: int = 42,
    max_fit_rows: int = 100_000,
    max_drift: float | None = 2.0,
    version_col: str | None = None,
    codebook_m: int | None = None,
    codebook_k: int = 256,
    codebook_iters: int = 10,
    group_col: str | None = None,
) -> int | None:
    """Continuous IVF vector-index maintenance via ``foreachBatch`` —
    the ANN leg of the versioned-fold family, completing it across
    every index-shaped state the engine ships (exact/fuzzy/span/
    semantic/phash snapshots, the lexical index, now the vector index):
    the FIRST non-empty micro-batch fits the coarse quantizer
    (:func:`~datamunging_spark.operators.similarity.ivf_build`, seeded
    sample ≤ ``max_fit_rows``) and writes the frozen centroids + drift
    baseline ONCE to ``{table_path}_centers`` (the relational
    :func:`~datamunging_spark.operators.similarity.ivf_centers_table`
    — no ``.npy`` side-channel, so restart needs only the store); every
    later batch is assigned to the frozen cells in ONE Arrow pass (no
    per-batch KMeans — the
    :func:`~datamunging_spark.operators.similarity.advance_ivf_index`
    machinery, drift valve included: a shifted embedding distribution
    FAILS the stream with a rebuild instruction rather than silently
    losing recall) and folded onto the stored inverted lists with
    ``replace_ids=True`` semantics — so re-folded batches are the
    identity (replay-idempotent) and updated vectors supersede their
    old rows; a NULL-vector row is a DELETE.

    **The store is the same delta-log store as
    :func:`streaming_index_ingest`** (``sources/versioned.py``,
    "Versioned delta-log store"; identical layout and cadence
    ``min(keep_last, base_every)``), so each fold writes O(batch)
    vector rows, not the accumulated corpus — at 100 TB of embeddings a
    full rewrite per micro-batch would dominate everything. Read any
    version back with :func:`load_ivf_index` and search it with
    ``ivf_search``.

    ``codebook_m`` arms the FULL IVF-PQ layout: the first fold also
    fits the product-quantization codebooks on the first batch
    (``pq_fit(m=codebook_m, k=codebook_k, iters=codebook_iters)`` —
    seeded, so a crash-replayed first batch refits the identical
    codebook) and persists them relationally at
    ``{table_path}_codebook`` (``pq_codebook_table``); every fold then
    encodes its batch with the FROZEN codebook and the codes ride the
    SAME versioned rows as a ``pq_codes`` column — one store, no
    second fold to keep consistent, deltas carry codes for free.
    Serve with :func:`load_pq_codebook` + ``ivf_pq_topk(...,
    encoded_cells=index.assigned.select('neighbor_id', '_cell',
    'pq_codes'))``. Codebook freshness is the same add-vs-retrain
    trade as the centroids (the drift valve guards both — a
    distribution shift that breaks cells breaks codes too).

    Within-batch id collisions FAIL FAST by default (two rows for one
    vec_id in a micro-batch would BOTH survive the history anti-join
    and make the id searchable twice — the lexical loop's contract);
    pass ``version_col`` (a CDC-style monotonic version) to resolve
    them last-wins instead, ties broken on a content hash of the
    vector so the winner is deterministic under any partitioning. The
    lexical loop's known gap is shared: the store carries no version,
    so ordering ACROSS micro-batches is the source's job. A FIRST
    batch that carries only NULL-vector (delete) rows is skipped —
    deletes against an empty store are no-ops and there is nothing to
    fit the quantizer on. Drains with ``availableNow``; returns the
    latest committed version.

    ``group_col`` arms the GROUPED store (per-language/per-tenant
    corpora — the grouped ``ivf_build``/``advance_ivf_index``
    semantics, folded): rows carry the group, ids are unique WITHIN
    their group, replace/delete keys on (group, id), the drift valve
    runs per group, and each group gets its own frozen centroids.
    Unlike the advance face, a batch group the store has never seen is
    FIT ON FIRST APPEARANCE: its centroids are fitted from that batch
    (seeded, so a crash-replay refits identically) and appended to the
    centers table as a NEW version — existing groups' centroids stay
    frozen verbatim; the committed centers version at any list version
    covers every group that version's rows mention. The flag is
    schema-authoritative like positions/pq_codes: a grouped store
    refuses an ungrouped fold and vice versa (the doc-id-only replay
    would delete across groups). One GLOBAL PQ codebook serves all
    groups when ``codebook_m`` is set (codes quantize vectors
    group-independently)."""
    from datamunging_spark.operators.similarity import (
        IvfIndex,
        _assign_frozen,
        _pq_encode_udf,
        _pygkey,
        ivf_build,
        ivf_centers_table,
        ivf_index_from_tables,
        pq_codebook_from_table,
        pq_codebook_table,
        pq_fit,
    )
    from pyspark.sql import Window

    from datamunging_spark.sources.versioned import (
        read_table_version,
        write_table_version,
    )

    cpath = f"{table_path}_centers"
    cbpath = f"{table_path}_codebook"

    def _fit_codebook(bspark, fit_src):
        cb = pq_fit(
            fit_src,
            vec_col=vec_col,
            m=codebook_m,
            k=codebook_k,
            seed=seed,
            max_fit_rows=max_fit_rows,
            iters=codebook_iters,
        )
        write_table_version(pq_codebook_table(cb, bspark), cbpath, 1)
        return cb

    def _with_codes(assigned_df, cb):
        return assigned_df.withColumn(
            "pq_codes", _pq_encode_udf(cb)(F.col("_cv"))
        )

    # the codebook is FROZEN at v1 for the store's lifetime — load it
    # once per drain, not once per micro-batch (m x k rows collected +
    # a numpy rebuild per fold otherwise)
    _cb_cache: dict = {}

    def _load_cb(bspark, refit_from=None):
        """``refit_from``: on the first list write (a crash landed
        between the centers and list commits) a codebook that never
        committed is refitted from the replayed batch — seeded, so it is
        the identical codebook."""
        if "cb" not in _cb_cache:
            cbv = latest_table_version(bspark, cbpath)
            if cbv is not None:
                _cb_cache["cb"] = pq_codebook_from_table(
                    read_table_version(bspark, cbpath, cbv)
                )
            elif refit_from is not None:
                _cb_cache["cb"] = _fit_codebook(bspark, refit_from)
            else:
                raise ValueError(
                    "streaming_ivf_ingest: the store carries pq_codes "
                    f"but no codebook is committed under {cbpath} — "
                    "the codebook table was deleted; restore it or "
                    "rebuild the store"
                )
        return _cb_cache["cb"]

    key_cols = ([group_col] if group_col else []) + [vec_id]

    def _resolve_batch(batch):
        if group_col is not None and group_col not in batch.columns:
            raise ValueError(
                f"streaming_ivf_ingest: group_col={group_col!r} given "
                "but the micro-batch has no such column"
            )
        if version_col is not None:
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(version_col).desc(),
                F.hash(F.col(vec_col)).desc(),
            )
            return (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        dup = (
            batch.groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .head(1)
        )
        if dup:
            raise ValueError(
                f"streaming_ivf_ingest: micro-batch carries multiple "
                f"rows for {tuple(key_cols)}={tuple(dup[0][:-1])!r} — "
                "both would survive the history anti-join and be "
                "searchable twice; pass version_col= for last-wins "
                "resolution or dedup the stream upstream"
            )
        return batch

    def _flag_check(centers_df):
        # groupedness is schema-authoritative from the CENTERS table
        # (like positions/pq_codes): a flip in either direction would
        # make the (group, id) vs id-only replay delete wrong rows
        store_g = [
            c
            for c in centers_df.columns
            if c not in ("cell", "center", "mean_fit_dist")
        ]
        store_gcol = store_g[0] if store_g else None
        if store_gcol != group_col:
            raise ValueError(
                f"streaming_ivf_ingest: the store's centers table says "
                f"group_col={store_gcol!r} but this fold was given "
                f"group_col={group_col!r} — groupedness is decided by "
                "the store; pass the column it was built with (or "
                "rebuild the store to change it)"
            )

    def _ensure_groups(idx, bdf, cv_now):
        """Fit-on-first-appearance: batch groups the store has never
        seen get centroids fitted from THIS batch (seeded — a crash
        replay refits identically) and the merged centers commit as a
        NEW version BEFORE any list write, so a crash between the two
        converges on replay. Existing groups' centroids are carried
        verbatim — still frozen."""
        if group_col is None:
            return idx
        src = bdf.filter(F.col(vec_col).isNotNull())
        known = {_pygkey(g) for g in idx.centers}
        groups = [
            r[group_col]
            for r in src.select(group_col).distinct().collect()
        ]
        new = [g for g in groups if _pygkey(g) not in known]
        if not new:
            return idx
        cond = None
        non_null = [g for g in new if g is not None]
        if non_null:
            cond = F.col(group_col).isin(non_null)
        if any(g is None for g in new):
            isn = F.col(group_col).isNull()
            cond = isn if cond is None else (cond | isn)
        new_idx = ivf_build(
            src.filter(cond),
            corpus_id=vec_id,
            vec_col=vec_col,
            n_clusters=n_clusters,
            seed=seed,
            max_fit_rows=max_fit_rows,
            group_col=group_col,
        )
        merged = IvfIndex(
            new_idx.assigned,  # session carrier; lists live in the store
            {**idx.centers, **new_idx.centers},
            n_clusters,
            {**idx.mean_fit_dist, **new_idx.mean_fit_dist},
            group_col=group_col,
            group_type=new_idx.group_type,
        )
        write_table_version(
            ivf_centers_table(merged), cpath, cv_now + 1
        )
        return merged

    def _assign_rows(idx, bdf):
        return _assign_frozen(
            idx, bdf, vec_id, vec_col, max_drift, pin=False
        ).drop("_dist")

    def _process(batch_df, batch_id):
        if not batch_df.head(1):
            return
        bspark = batch_df.sparkSession
        batch_df = _resolve_batch(batch_df)
        cv = latest_table_version(bspark, cpath)
        mv = latest_table_version(bspark, table_path)
        replaced = batch_df.select(
            *key_cols[:-1], F.col(vec_id).alias("neighbor_id")
        ).distinct()
        fit_src = batch_df.filter(F.col(vec_col).isNotNull())
        if cv is None:
            if not fit_src.head(1):
                # delete-only first batch: deletes against an empty
                # store are no-ops and KMeans has nothing to fit on —
                # skip; the first REAL batch fits the quantizer
                return
            # first fold: fit the quantizer on this batch, freeze it
            idx = ivf_build(
                fit_src,
                corpus_id=vec_id,
                vec_col=vec_col,
                n_clusters=n_clusters,
                seed=seed,
                max_fit_rows=max_fit_rows,
                group_col=group_col,
            )
            write_table_version(ivf_centers_table(idx), cpath, 1)
            base = idx.assigned
            if codebook_m is not None:
                base = _with_codes(base, _fit_codebook(bspark, fit_src))
            log.write(bspark, (mv or 0) + 1, 0, None, (base,), replaced)
            return
        centers = read_table_version(bspark, cpath, cv)
        _flag_check(centers)
        # mv is None when a crash landed between the centers commit and
        # the first list write: this batch is signed under the committed
        # frozen centers onto an empty state
        parts, chain = (
            log.read(bspark, mv) if mv is not None else (None, 0)
        )
        state = parts[0] if parts is not None else None
        # codes are schema-authoritative, like positionality in the
        # lexical loop: the store decides; a flag flip cannot retrofit
        has_codes = (
            "pq_codes" in state.columns
            if state is not None
            else codebook_m is not None
        )
        if has_codes:
            cb = _load_cb(bspark, fit_src if state is None else None)
        elif codebook_m is not None:
            raise ValueError(
                "streaming_ivf_ingest: codebook_m given but the store "
                "has no pq_codes column — codes cannot be retrofitted "
                "onto an existing store (history would need a full "
                "re-encode); rebuild the store with codebook_m set "
                "from the first fold"
            )
        idx = ivf_index_from_tables(state, centers)
        idx = _ensure_groups(idx, batch_df, cv)
        assigned = _assign_rows(idx, batch_df)
        if has_codes:
            assigned = _with_codes(assigned, cb)
        log.write(bspark, (mv or 0) + 1, chain, parts, (assigned,), replaced)

    log = DeltaLog(table_path, keep_last, base_cadence(keep_last, base_every))
    _drain(vec_stream, _process, checkpoint_path, keep_last)
    return latest_table_version(vec_stream.sparkSession, table_path)


def streaming_quantiles(
    values_stream: DataFrame,
    col: str,
    table_path: str,
    k: int = 4096,
    keys: list | None = None,
    checkpoint_path: str | None = None,
    keep_last: int = 2,
) -> int | None:
    """Continuous quantile-profile maintenance via ``foreachBatch`` —
    the rank/quantile leg of the sketch-fold trio (frequency =
    :func:`streaming_heavy_hitters`, distinct =
    :func:`streaming_distinct_counts`): each micro-batch is summarized
    by :func:`~datamunging_spark.operators.sketch.quantile_summary`
    (one KLL sketch, built by a JVM hash aggregate) and folded into the
    stored summary with
    :func:`~datamunging_spark.operators.sketch.merge_quantile_summaries`
    (a summary-sized sketch merge; the stored state stays one O(k)-item
    sketch forever). ``n`` adds exactly across folds and
    the KLL bound holds for the merged sketch, so
    ``quantile_report(read_table_version(...), qs)`` over any committed
    version answers for the stream so far.

    ``keys`` switches to the PER-KEY profile (grouped_quantile_summary
    / merge_grouped_quantile_summaries — "p99 doc length per source over
    the whole crawl"); render with ``grouped_quantile_report``.

    Exactly-once mirrors :func:`streaming_heavy_hitters`: the fold is
    NOT replay-idempotent (re-merging a batch's sketch double-counts
    it), so each committed version carries its micro-batch tag and a
    replayed batch no-ops; versions vacuum to ``keep_last``. Drains
    with ``availableNow``; returns the latest committed version.
    """
    from datamunging_spark.operators.sketch import (
        _check_kll_k,
        grouped_quantile_summary,
        merge_grouped_quantile_summaries,
        merge_quantile_summaries,
        quantile_summary,
    )

    _check_kll_k(k)  # before the stream starts, not inside a batch
    if keys:
        fold = lambda state, batch: merge_grouped_quantile_summaries(  # noqa: E731
            grouped_quantile_summary(batch, keys, col, k), state, keys
        )
    else:
        fold = lambda state, batch: merge_quantile_summaries(  # noqa: E731
            quantile_summary(batch, col, k), state
        )
    return _versioned_stream_fold(
        values_stream,
        table_path,
        fold,
        checkpoint_path,
        keep_last,
        skip_applied=True,  # a re-merged sketch double-counts
    )
