"""The versioned delta-log store (sources/versioned.DeltaLog) on small
static frames: the cadence rule, the keyed and append-only replay, torn
attempts in either mode, and stores laid out the way the streaming
families have always written them."""

from pathlib import Path

import pytest

from datamunging_spark.sources.versioned import (
    DeltaLog,
    base_cadence,
    list_table_versions,
    mark_committed,
)
from datamunging_spark.streaming import _SPAN_LAYOUT, read_index_version

KEYED = "g string, doc_id long, tf long"


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize(
    "keep_last, base_every, kinds",
    [
        (5, 3, ["base", "delta", "delta", "base"]),
        (2, 64, ["base", "delta", "base", "delta"]),
        (2, None, ["base", "delta", "base", "delta"]),
        (None, None, ["delta", "delta", "delta", "delta"]),
    ],
)
def test_delta_log_cadence(spark, tmp_path, keep_last, base_every, kinds):
    """A base is written when the head chain is empty or one more delta
    would make it longer than min(keep_last, base_every) versions; with
    both None the log is a pure delta log. Vacuum keeps the head's base,
    so the head always replays to every row appended so far."""
    log = DeltaLog(
        str(tmp_path),
        keep_last,
        base_cadence(keep_last, base_every),
        **_SPAN_LAYOUT,
    )
    state, chain, got = None, 0, []
    for v in range(len(kinds)):
        inc = (
            spark.createDataFrame([(v, v * 10)], "doc_id long, fp long"),
            spark.createDataFrame(
                [(v, f"t{v}")], "doc_id long, text string"
            ),
        )
        state, chain = log.write(spark, v, chain, state, inc)
        got.append(log.kind(spark, v))
    assert got == kinds
    parts, head_chain = log.read(spark)
    assert head_chain == chain
    assert _rows(parts[0]) == [(v, v * 10) for v in range(len(kinds))]
    assert _rows(parts[1]) == [(v, f"t{v}") for v in range(len(kinds))]
    assert _rows(state[1]) == _rows(parts[1])
    retained = len(list_table_versions(spark, str(tmp_path)))
    assert retained == min(keep_last or len(kinds), len(kinds))


def test_delta_log_grouped_replay_with_null_group(spark, tmp_path):
    """Replaced keys drop state rows NULL-safely per key column: a NULL
    group is a real group, and an id replaced in one group survives in
    another. The delta's rows then union in."""
    log = DeltaLog(str(tmp_path), 3, base_cadence(3, None))
    base = spark.createDataFrame(
        [(None, 1, 1), ("a", 1, 1), (None, 2, 1), ("a", 2, 1)], KEYED
    )
    parts, chain = log.write(spark, 1, 0, None, (base,))
    delta = spark.createDataFrame([(None, 1, 7)], KEYED)
    replaced = spark.createDataFrame(
        [(None, 1), ("a", 2)], "g string, doc_id long"
    )
    _, chain = log.write(spark, 2, chain, parts, (delta,), replaced)
    assert (log.kind(spark, 1), log.kind(spark, 2), chain) == (
        "base", "delta", 2,
    )
    assert _rows(read_index_version(spark, str(tmp_path))) == _rows(
        spark.createDataFrame(
            [("a", 1, 1), (None, 2, 1), (None, 1, 7)], KEYED
        )
    )


def test_delta_log_keyed_pure_delta_starts_on_a_base(spark, tmp_path):
    """Without a cadence a keyed log still writes its first version as a
    base (its replay needs one), then only deltas; the head replays."""
    path = str(tmp_path)
    log = DeltaLog(path, None, base_cadence(None, None))
    parts, chain = None, 0
    for v in (1, 2, 3):
        row = spark.createDataFrame([("a", v, v)], KEYED)
        ids = spark.createDataFrame([("a", v)], "g string, doc_id long")
        parts, chain = log.write(spark, v, chain, parts, (row,), ids)
    assert [log.kind(spark, v) for v in (1, 2, 3)] == [
        "base", "delta", "delta",
    ]
    assert _rows(read_index_version(spark, path)) == [
        ("a", 1, 1), ("a", 2, 2), ("a", 3, 3)
    ]


def test_delta_log_torn_attempt_in_each_mode(spark, tmp_path):
    """A write deletes what a crashed attempt of the OTHER mode left in
    its version directory, so neither a gutted base nor a stale delta is
    replayed."""
    path = str(tmp_path)
    log = DeltaLog(path, None, base_cadence(None, 2))
    first = spark.createDataFrame([("a", 1, 1)], KEYED)
    parts, chain = log.write(spark, 1, 0, None, (first,))
    # a torn BASE at v2 (no marker), then the replay writes a delta
    spark.createDataFrame([("junk", 9, 9)], KEYED).write.parquet(
        f"{path}/v2"
    )
    add = spark.createDataFrame([("a", 2, 1)], KEYED)
    ids = spark.createDataFrame([("a", 2)], "g string, doc_id long")
    parts, chain = log.write(spark, 2, chain, parts, (add,), ids)
    assert log.kind(spark, 2) == "delta"
    assert _rows(read_index_version(spark, path)) == [
        ("a", 1, 1), ("a", 2, 1)
    ]
    # a torn DELTA at v3, then the replay writes a base
    spark.createDataFrame([("junk", 9, 9)], KEYED).write.parquet(
        f"{path}/v3/postings_delta"
    )
    upd = spark.createDataFrame([("a", 1, 5)], KEYED)
    ids = spark.createDataFrame([("a", 1)], "g string, doc_id long")
    log.write(spark, 3, chain, parts, (upd,), ids)
    assert log.kind(spark, 3) == "base"
    assert not Path(f"{path}/v3/postings_delta").exists()
    assert _rows(read_index_version(spark, path)) == [
        ("a", 1, 5), ("a", 2, 1)
    ]


def test_delta_log_reads_existing_postings_layout(spark, tmp_path):
    """A postings/IVF store written as plain parquet plus markers: the
    base at the version root, deltas as postings_delta + replaced_ids.
    Every version replays to its point-in-time table, and a delta whose
    base was vacuumed raises rather than return a partial index."""
    path = str(tmp_path)

    def put(v, rows, sub="", schema=KEYED):
        spark.createDataFrame(rows, schema).write.parquet(
            f"{path}/v{v}" + (f"/{sub}" if sub else "")
        )

    put(1, [(None, 1, 1), ("a", 1, 2)])
    put(2, [(None, 1, 3)], "postings_delta")
    put(2, [(None, 1)], "replaced_ids", "g string, doc_id long")
    put(3, [("a", 5, 1)], "postings_delta")
    put(3, [("a", 5)], "replaced_ids", "g string, doc_id long")
    for v in (1, 2, 3):
        mark_committed(spark, f"{path}/v{v}")
    want = {
        1: [(None, 1, 1), ("a", 1, 2)],
        2: [("a", 1, 2), (None, 1, 3)],
        3: [("a", 1, 2), (None, 1, 3), ("a", 5, 1)],
    }
    for v, rows in want.items():
        assert _rows(read_index_version(spark, path, v)) == _rows(
            spark.createDataFrame(rows, KEYED)
        ), v
    assert DeltaLog(path).read(spark)[1] == 3
    import shutil

    shutil.rmtree(f"{path}/v1")  # vacuum took the base
    with pytest.raises(FileNotFoundError, match="keep_last"):
        read_index_version(spark, path, 3)


def test_delta_log_reads_existing_span_layout(spark, tmp_path):
    """A span-state store written as plain parquet plus markers under
    zero-padded version directories: a base, a delta, a span-free
    version (skipped), another delta. The read unions the chain, and the
    chain length counts only versions that carry span state."""
    log = DeltaLog(str(tmp_path), **_SPAN_LAYOUT)
    fps, texts = "doc_id long, fp long", "doc_id long, text string"

    def put(v, sub, rows, schema):
        spark.createDataFrame(rows, schema).write.parquet(
            f"{tmp_path}/v{v:020d}/{sub}"
        )

    put(0, "span_fps", [(1, 10)], fps)
    put(0, "span_texts", [(1, "a")], texts)
    put(1, "span_fps_delta", [(2, 20)], fps)
    put(1, "span_texts_delta", [(2, "b")], texts)
    put(2, "content", [("h",)], "content_hash string")
    put(3, "span_fps_delta", [(3, 30)], fps)
    put(3, "span_texts_delta", [(3, "c")], texts)
    for v in range(4):
        mark_committed(spark, f"{tmp_path}/v{v:020d}")
    assert log.vdir(3) == f"{tmp_path}/v00000000000000000003"
    (got_fps, got_texts), chain = log.read(spark, 3)
    assert chain == 3
    assert _rows(got_fps) == [(1, 10), (2, 20), (3, 30)]
    assert _rows(got_texts) == [(1, "a"), (2, "b"), (3, "c")]
    assert log.read(spark, 1)[1] == 2


def test_streaming_faces_check_keep_last_before_start(spark, tmp_path):
    """keep_last < 1 fails with ValueError before the query starts: no
    version directory is written by any versioned streaming face."""
    from datamunging_spark.streaming import (
        streaming_index_ingest,
        streaming_ingest,
        streaming_ivf_ingest,
        streaming_phash_ingest,
        streaming_resolve,
        streaming_rollup,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, "some text")], "doc_id long, text string"
    ).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    out = tmp_path / "out"
    out.mkdir()
    calls = [
        lambda: streaming_index_ingest(stream, str(out / "idx"), keep_last=0),
        lambda: streaming_ivf_ingest(stream, str(out / "ivf"), keep_last=0),
        lambda: streaming_ingest(
            stream, snapshots_path=str(out / "snaps"), snapshots_keep_last=0
        ),
        lambda: streaming_phash_ingest(
            stream, snapshot_path=str(out / "ph"), keep_last=0
        ),
        lambda: streaming_resolve(
            stream, spark.createDataFrame([], "doc_id long, text string"),
            "doc_id", "text", ["text"], None,
            history_path=str(out / "er"), history_keep_last=0,
        ),
        lambda: streaming_rollup(
            stream, str(out / "roll"), "ts", "1 hour", {}, keep_last=0
        ),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="keep_last must be >= 1"):
            call()
    assert not list(out.rglob("v*"))
