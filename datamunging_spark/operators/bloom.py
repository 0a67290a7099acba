"""Distributed Bloom filter build + vectorized membership probe — the
classic shuffle-avoidance primitive for continuous ingest: a batch row
whose key the filter rejects is DEFINITELY not in history, so only the
(tiny) might-contain remainder needs the exact anti-join. Spark's own
runtime row-group filtering uses the same trick internally
(`bloom_filter_agg`/`might_contain`), but those expressions are not
exposed to SQL/PySpark — this is the engine-level face.

Design: values are hashed ONCE JVM-side (``F.xxhash64`` — stays in
codegen), and the k bit positions derive from that 64-bit hash by
Kirsch-Mitzenmacher double hashing (pos_i = h1 + i*h2 mod m), so the
Python build and probe share one position function with no Python-side
value hashing. Two build strategies (``bloom_build(method=...)``):

- ``"local"`` — each map task ORs its rows into a task-local bitmap and
  emits it as (chunk_id, bytes) rows (all-zero chunks skipped); a keyed
  aggregate ORs the partials. Per-task MEMORY is the FULL m/8 bytes
  (chunking bounds only the shuffle row size), so this is the cheap
  path for small/medium filters where m/8 fits comfortably in a task.
- ``"shuffle"`` — two-level map-side pre-OR (the design the r8/r9
  reviews asked for): map tasks collapse each Arrow batch's positions
  into per-64-bit-WORD partial ORs (one row per distinct word the
  batch touches), and Spark's partial hash aggregation keeps OR-ing
  those across batches map-side in Tungsten-managed, SPILLABLE memory
  — per-map-task memory is the agg hash map, never the bitmap. The
  word agg shuffles ≤ min(positions, distinct nonzero words) × 16 B
  PER MAP TASK — the reduction vs the old row-per-position emit grows
  with task size (measured, SCALE.md r11: 1.9× at local 500k-row
  tasks, which saturate the word table; →47× at this density as tasks
  approach production 128 MB splits); a second word-count-sized
  exchange regroups words by chunk, where the pack group is ≤
  chunk_bytes/8 rows ≈ 2× chunk bytes — the reduce bound really is
  chunk-sized now (measured: max group 34.8 M → 1.05 M rows at 16 M
  keys), which is the bound that kept dense chunks from OOMing. For the
  1e9-key / 1% fpp (~1.2 GB) filter this is the memory-safe build —
  and it also beats local's shuffle volume there (local ships
  partitions × live chunks × chunk_bytes, which exceeds the word table
  once partitions are many).

``method="auto"`` (default) picks local below 128 MiB of bitmap and
shuffle above. Both produce bit-identical filters (pinned by test). The
probe ships the assembled filter to executors once via a broadcast
variable, content-keyed by a digest computed ONCE at build/merge time.
"""

# NB: no `from __future__ import annotations` — pandas_udf resolves real
# type objects at decoration time.

import math
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class BloomFilter(NamedTuple):
    """Immutable built filter: ``bits`` (little bitmap, len m/8), the
    bit-space size ``m`` (multiple of 8) and hash count ``k``.
    ``digest`` caches the sha1 of ``bits`` (computed once at
    build/merge) so the per-call broadcast-cache lookup never re-hashes
    a potentially-GB bitmap. A hand-built filter left at the ``None``
    default re-hashes the FULL bitmap on EVERY probe/release call (the
    tuple is immutable, so nothing can memoize it in place) — pass it
    through :meth:`with_digest` once to get the cached-digest copy."""

    bits: bytes
    m: int
    k: int
    digest: str | None = None

    def with_digest(self) -> "BloomFilter":
        """Copy with ``digest`` filled (no-op if already cached) — the
        one-time step that makes a hand-built filter probe at the same
        O(1) driver cost as ``bloom_build``/``bloom_or`` outputs."""
        if self.digest is not None:
            return self
        return self._replace(digest=_digest(self.bits))


def _digest(bits: bytes) -> str:
    import hashlib

    return hashlib.sha1(bits).hexdigest()


def _mix(h):
    """splitmix64 finalizer — derives the second hash stream from the
    JVM xxhash64 value; numpy uint64 arithmetic wraps mod 2^64."""
    import numpy as np

    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _positions(h, k, m):
    """(n, k) array of bit positions for hash vector ``h`` — the ONE
    definition build and probe share (Kirsch-Mitzenmacher: two streams
    simulate k independent hashes with no quality loss)."""
    import numpy as np

    h1 = h.astype(np.uint64)
    h2 = _mix(h1) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def bloom_params(num_items: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for ``num_items`` at ``fpp`` — the
    standard formulas, m rounded up to a whole byte."""
    if num_items < 1:
        raise ValueError(f"num_items must be >= 1, got {num_items}")
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = max(8, math.ceil(-num_items * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / num_items * math.log(2)))
    return m, k


#: Above this bitmap size ``method="auto"`` switches from the task-local
#: build (per-task memory = full bitmap) to the position-shuffle build
#: (per-task memory = one chunk).
_LOCAL_BUILD_MAX_BYTES = 128 << 20

_WORD_SCHEMA = T.StructType(
    [
        T.StructField("word_id", T.LongType()),
        T.StructField("word", T.LongType()),
    ]
)


def _emit_words_fn(k: int, m: int):
    """Map-side pre-OR, level 1 of 2 (the r8-ADVICE design): per Arrow
    batch, positions collapse into per-64-bit-WORD partial ORs
    (sort + reduceat — one row per distinct word touched by the batch,
    never one per position). Level 2 is Spark's own partial hash
    aggregation on the bit_or downstream, which keeps OR-ing these
    across batches map-side in Tungsten-managed (spillable) memory. The
    shuffle then carries min(positions-in-task, distinct words touched
    by the task) rows × 16 B per map task, so the reduction vs the old
    row-per-position emit GROWS WITH TASK SIZE and saturates at one row
    per nonzero bitmap word per task. Measured at 16M keys / 19 MB
    bitmap (SCALE.md r11 table): with local 500k-row tasks the tasks
    sit near word saturation, so 58.9 M rows actually shuffle vs the
    old emit's 112 M — 1.9× here, approaching m/64 rows per task (47×
    at this density) at production 128 MB splits. The unconditional
    win is the REDUCE bound: one chunk's group is its ≤ words_per_chunk
    nonzero words — measured max group 1.05 M rows (17 MB) vs the old
    grouping's 34.8 M position rows (556 MB), which is what made dense
    chunks OOM-prone before r10. Module-level so a probe can drive the
    REAL emit path and read its runtime shuffle metrics (the SCALE.md
    r11 numbers were measured that way)."""

    def emit_words(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            pos = _positions(
                pdf["_h"].to_numpy(np.int64).view(np.uint64), k, m
            ).ravel()
            wid = pos >> np.uint64(6)
            bit = np.uint64(1) << (pos & np.uint64(63))
            order = np.argsort(wid, kind="stable")
            wid, bit = wid[order], bit[order]
            uniq, starts = np.unique(wid, return_index=True)
            ors = np.bitwise_or.reduceat(bit, starts)
            yield pd.DataFrame(
                {
                    "word_id": uniq.astype(np.int64),
                    "word": ors.view(np.int64),
                }
            )

    return emit_words


def bloom_build(
    df: DataFrame,
    cols: list[str],
    num_items: int | None = None,
    fpp: float = 0.01,
    chunk_bytes: int = 1 << 23,
    method: str = "auto",
) -> BloomFilter:
    """Build a Bloom filter over the value tuples of ``cols``.

    ``num_items`` sizes the filter (defaults to ``df.count()`` — pass it
    explicitly when the plan is expensive to execute twice).

    ``method="local"``: one JVM xxhash64 projection → per-task FULL
    bitmaps emitted as chunked (chunk_id, bytes) rows (all-zero chunks
    skipped) → one groupBy(chunk) OR → driver assembly. Per-task memory
    is the whole m/8 bytes — fine while the bitmap is task-sized.

    ``method="shuffle"``: per-batch positions collapse to per-word
    partial ORs → ``groupBy(word_id).agg(bit_or)`` (map-side partial
    agg = the second pre-OR level, Tungsten-managed and spillable) →
    regroup words by chunk → pack. Per-map-task memory is the agg hash
    map (spillable); per-reduce-task memory is one chunk's nonzero
    words, ≤ chunk_bytes/8 rows ≈ 2× ``chunk_bytes`` — chunk-sized for
    real this time (the pre-r10 form grouped raw position rows, up to
    tens of millions per dense chunk; SCALE.md carries the measured
    row-count comparison). The 100 TB / 1e9-key path. ``method="auto"``
    (default) picks local under 128 MiB of bitmap, shuffle above. Both
    methods yield bit-identical filters for any chunk size.
    """
    if method not in ("auto", "local", "shuffle"):
        raise ValueError(
            f"method must be 'auto'|'local'|'shuffle', got {method!r}"
        )
    if num_items is None:
        num_items = df.count()
    if num_items == 0:
        m, k = bloom_params(1, fpp)
        return BloomFilter(bytes(m // 8), m, k, _digest(bytes(m // 8)))
    if chunk_bytes < 1:
        raise ValueError(f"chunk_bytes must be >= 1, got {chunk_bytes}")
    m, k = bloom_params(num_items, fpp)
    n_bytes = m // 8
    chunk = min(chunk_bytes, n_bytes)
    if method == "auto":
        method = "local" if n_bytes <= _LOCAL_BUILD_MAX_BYTES else "shuffle"
    if method == "shuffle":
        # words must align to chunk boundaries (each 64-bit word belongs
        # to exactly one chunk)
        chunk = max(8, chunk - chunk % 8)
    # chunk_id is IntegerType: a tiny explicit chunk_bytes against a
    # huge bitmap (>= 16 GiB at chunk<=8) would otherwise wrap the CAST
    # silently and corrupt the assembly (r10 ADVICE).
    n_chunks = -(-n_bytes // chunk)
    if n_chunks > 2**31 - 1:
        raise ValueError(
            f"{n_chunks} chunks ({n_bytes} bitmap bytes at chunk_bytes="
            f"{chunk}) exceed IntegerType chunk ids; raise chunk_bytes"
        )

    hashes = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("_h"))
    schema = T.StructType(
        [
            T.StructField("chunk_id", T.IntegerType()),
            T.StructField("bits", T.BinaryType()),
        ]
    )

    def build(batches):
        import numpy as np
        import pandas as pd

        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            pos = _positions(pdf["_h"].to_numpy(np.int64).view(np.uint64),
                             k, m).ravel()
            np.bitwise_or.at(
                bitmap, (pos >> np.uint64(3)).astype(np.int64),
                np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8),
            )
        ids, bufs = [], []
        for cid in range(0, n_bytes, chunk):
            piece = bitmap[cid : cid + chunk]
            if piece.any():
                ids.append(cid // chunk)
                bufs.append(piece.tobytes())
        if ids:
            yield pd.DataFrame({"chunk_id": ids, "bits": bufs})

    words_per_chunk = chunk // 8
    emit_words = _emit_words_fn(k, m)

    def pack_chunk(key, pdf):
        # One group = the NONZERO words of one chunk: ≤ words_per_chunk
        # rows × ~16 B ≈ 2× chunk bytes — the truly chunk-sized reduce
        # bound the old position-row grouping did not have (a dense
        # 8 MiB chunk grouped tens of millions of position rows).
        import numpy as np
        import pandas as pd

        cid = int(key[0])
        size = min(chunk, n_bytes - cid * chunk)
        words = np.zeros(-(-size // 8), dtype=np.uint64)
        idx = pdf["word_id"].to_numpy(np.int64) - cid * words_per_chunk
        words[idx] = pdf["word"].to_numpy(np.int64).view(np.uint64)
        return pd.DataFrame(
            # explicit little-endian: bit i lands at byte i>>3, bit i&7,
            # matching _positions' byte-addressed layout on any host
            {"chunk_id": [cid], "bits": [words.astype("<u8").tobytes()[:size]]}
        )

    def merge(key, pdf):
        import numpy as np
        import pandas as pd

        acc = None
        for b in pdf["bits"]:
            arr = np.frombuffer(b, dtype=np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame(
            {"chunk_id": [key[0]], "bits": [acc.tobytes()]}
        )

    if method == "local":
        merged = (
            hashes.mapInPandas(build, schema)
            .groupBy("chunk_id")
            .applyInPandas(merge, schema)
            .collect()
        )
    else:
        merged = (
            hashes.mapInPandas(emit_words, _WORD_SCHEMA)
            .groupBy("word_id")
            .agg(F.bit_or("word").alias("word"))
            .withColumn(
                "chunk_id",
                F.expr(f"CAST(word_id DIV {words_per_chunk} AS INT)"),
            )
            .groupBy("chunk_id")
            .applyInPandas(pack_chunk, schema)
            .collect()
        )
    bitmap = bytearray(n_bytes)
    for row in merged:
        off = row["chunk_id"] * chunk
        bitmap[off : off + len(row["bits"])] = row["bits"]
    bits = bytes(bitmap)
    return BloomFilter(bits, m, k, _digest(bits))


# One broadcast per distinct filter per application: repeated
# bloom_might_contain calls with the SAME filter (every micro-batch of a
# loop between bloom_or folds) must not stack fresh copies of a
# potentially-GB bitmap on the driver and executors. Keyed by content
# digest, released explicitly via bloom_release when a loop advances
# its filter.
_BC_CACHE: dict = {}


def _bloom_key(spark, bloom: BloomFilter):
    return (
        spark.sparkContext.applicationId,
        bloom.digest if bloom.digest is not None else _digest(bloom.bits),
        bloom.m,
        bloom.k,
    )


def bloom_release(bloom: BloomFilter) -> bool:
    """Unpersist the broadcast backing ``bloom``'s probe predicate (if
    one exists) — call when a long-running loop advances its filter via
    ``bloom_or`` so retired bitmaps do not accumulate for the session
    lifetime. Queries still holding the old predicate must have finished.
    Returns True when a broadcast was released."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    bc = _BC_CACHE.pop(_bloom_key(spark, bloom), None)
    if bc is None:
        return False
    bc.unpersist()
    return True


def bloom_might_contain(bloom: BloomFilter, *cols) -> Column:
    """Boolean Column: True when the value tuple MIGHT be in the filter
    (false positives at ≈ fpp), False when it is DEFINITELY absent — the
    prefilter predicate. Hashing stays JVM-side (xxhash64); the bit probe
    is a vectorized Arrow ``pandas_udf`` reading the filter from a
    broadcast variable. The broadcast is CACHED per distinct filter per
    application (content-keyed), so calling this every micro-batch with
    an unchanged filter reuses one executor-resident copy; when the loop
    folds a new batch in with ``bloom_or``, release the retired filter
    with :func:`bloom_release`."""
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    spark = SparkSession.getActiveSession()
    key = _bloom_key(spark, bloom)
    bc = _BC_CACHE.get(key)
    if bc is None:
        bc = spark.sparkContext.broadcast((bloom.bits, bloom.m, bloom.k))
        _BC_CACHE[key] = bc

    @pandas_udf(T.BooleanType())
    def probe(h):
        import numpy as np
        import pandas as pd

        bits, m, k = bc.value
        bitmap = np.frombuffer(bits, dtype=np.uint8)
        if not len(h):
            return pd.Series([], dtype=bool)
        pos = _positions(h.to_numpy(np.int64).view(np.uint64), k, m)
        byte = (pos >> np.uint64(3)).astype(np.int64)
        mask = np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
        return pd.Series(((bitmap[byte] & mask) != 0).all(axis=1))

    return probe(F.xxhash64(*[F.col(c) if isinstance(c, str) else c
                              for c in cols]))


def bloom_or(
    a: BloomFilter, b: BloomFilter, release_inputs: bool = False
) -> BloomFilter:
    """OR-merge two filters built with the SAME (m, k) — how a
    continuous-ingest loop maintains its history filter incrementally:
    build a batch-sized filter per ingest and fold it in, never
    re-scanning history. (The merged filter's fpp corresponds to the
    TOTAL inserted count — size the original m for the expected history,
    exactly like a single build.) Parameter drift raises, mirroring
    advance_snapshot's signature-stamp contract.

    ``release_inputs=True`` calls :func:`bloom_release` on both inputs —
    the convenient form for a loop that folds every batch and never
    probes the retired filters again (keeps the probe's broadcast cache
    from accumulating one executor-resident bitmap per batch); leave
    False when queries still holding the old predicates may run."""
    import numpy as np

    if (a.m, a.k) != (b.m, b.k):
        raise ValueError(
            f"cannot OR-merge Bloom filters with different parameters: "
            f"(m={a.m}, k={a.k}) vs (m={b.m}, k={b.k})"
        )
    merged = np.frombuffer(a.bits, dtype=np.uint8) | np.frombuffer(
        b.bits, dtype=np.uint8
    )
    if release_inputs:
        bloom_release(a)
        bloom_release(b)
    bits = merged.tobytes()
    return BloomFilter(bits, a.m, a.k, _digest(bits))
